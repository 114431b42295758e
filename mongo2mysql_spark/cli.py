"""CLI mirroring the reference's option surface (SURVEY.md §2 A18,
cli.php:18-26): host, dbname, port, username, password, mdbname,
limit, dataonly, skip — plus engine-side additions for the harness
(--source-dir parquet input, --output-dir parquet staging sink).

Usage:
    python -m mongo2mysql_spark.cli --source-dir /root/testdata/sf0.001 \
        --output-dir /tmp/out [--limit N] [--skip t1,t2] [--dataonly]

With --mongo-uri/--dbname/--host the same pipeline reads the MongoDB
connector and writes MySQL over JDBC (cluster deployment; the
container has neither service, so those paths are gated).
"""

from __future__ import annotations

import argparse
import sys

from mongo2mysql_spark.operators.guards import parse_skip_list
from mongo2mysql_spark.porter import PorterConfig, SparkPorter
from mongo2mysql_spark.session import build_session
from mongo2mysql_spark.sources.parquet import list_collections, load_table


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mongo2mysql-spark",
        description="Export MongoDB-shaped collections to relational tables (Spark).",
    )
    # reference options (cli.php:18-26)
    p.add_argument("--dbname", help="destination MySQL database name")
    p.add_argument("--host", default="127.0.0.1", help="destination MySQL host")
    p.add_argument("--port", type=int, default=3306)
    p.add_argument("--username", "-u", default="root")
    p.add_argument("--password", "-p", default="")
    p.add_argument("--mdbname", help="source MongoDB database name")
    p.add_argument("--limit", "-l", type=int, default=None,
                   help="max rows per collection (debugging)")
    p.add_argument("--dataonly", action="store_true",
                   help="no DDL; truncate existing tables and skip rows "
                        "routed to absent tables")
    p.add_argument("--skip", default=None, help="CSV of destination tables to skip")
    # engine additions
    p.add_argument("--mongo-uri", default=None, help="mongodb:// connection uri")
    p.add_argument("--source-dir", default=None,
                   help="directory of <collection>.parquet files (test harness source)")
    p.add_argument("--output-dir", default=None,
                   help="write destination tables as parquet under this dir")
    p.add_argument("--sqlite", default=None, metavar="DB",
                   help="write destination tables into this sqlite3 database "
                        "via the batched REPLACE upsert sink (the "
                        "sandbox-runnable DBAPI stand-in for the MySQL sink: "
                        "same statement builder, same REPLACE-on-PK rerun "
                        "convergence — Porter.php:207)")
    p.add_argument("--collections", default=None, help="CSV subset of collections")
    p.add_argument("--progress", action="store_true",
                   help="print per-table row/throughput lines (A17; counts "
                        "ride the sink action, no extra scan)")
    p.add_argument("--incremental", action="store_true",
                   help="CDC-shaped sync (sync.py): export only "
                        "documents past the sink's durable MAX(_id) "
                        "high-water mark — the reference rewalks the "
                        "whole collection on rerun (Porter.php:508-511). "
                        "Requires --mongo-uri, --mdbname and --sqlite "
                        "(or a MySQL destination on a real deployment).")
    p.add_argument("--stream", action="store_true",
                   help="replay each collection as a bounded file stream and "
                        "run the batch pipeline per micro-batch (foreachBatch; "
                        "availableNow trigger). Requires --source-dir and "
                        "--output-dir; output parquet accumulates per table.")
    # one-call training-corpus builder (pipelines.build_training_corpus)
    p.add_argument("--corpus", action="store_true",
                   help="build a training corpus from the 'documents' "
                        "collection instead of running the ETL export: "
                        "filter → optional LM-ppl gate / DSIR selection / "
                        "near+passage dedup → decontam → split → tokenize → "
                        "pack → shard. Requires --source-dir and --output-dir.")
    p.add_argument("--max-ppl", type=float, default=None,
                   help="corpus: bigram-LM perplexity cap (needs --lm-ref-source)")
    p.add_argument("--lm-ref-source", default=None,
                   help="corpus: 'source' column value the reference LM trains on")
    p.add_argument("--clf-keep-frac", type=float, default=None,
                   help="corpus: keep this top fraction by quality-classifier "
                        "score (needs --clf-reference-source)")
    p.add_argument("--clf-reference-source", default=None,
                   help="corpus: 'source' column value of the classifier's "
                        "high-quality reference (positives; negatives are a "
                        "corpus sample)")
    p.add_argument("--dsir-keep-frac", type=float, default=None,
                   help="corpus: keep this top fraction by DSIR weight "
                        "(needs --dsir-target-source)")
    p.add_argument("--dsir-target-source", default=None,
                   help="corpus: 'source' column value of the DSIR target domain")
    p.add_argument("--near-dedup", action="store_true",
                   help="corpus: MinHash-LSH near-dup pass after exact dedup")
    p.add_argument("--passage-dedup", action="store_true",
                   help="corpus: winnowing passage-overlap dedup pass")
    p.add_argument("--passage-mode", choices=("drop", "strip"), default="drop",
                   help="corpus: drop whole passage-dup docs, or strip the "
                        "shared span and keep the rest (one copy survives)")
    p.add_argument("--n-merges", type=int, default=0,
                   help="corpus: BPE merges to learn (0 = whitespace tokens)")
    p.add_argument("--seq-len", type=int, default=2048,
                   help="corpus: packed training-sequence length")
    p.add_argument("--n-shards", type=int, default=8,
                   help="corpus: shuffled output shard count")
    p.add_argument("--shard-format", default="parquet",
                   choices=("parquet", "jsonl"),
                   help="corpus: train-shard file format")
    p.add_argument("--bucket-report", action="store_true",
                   help="corpus: add the length-bucket padding-waste "
                        "ledger to the stage report (what dynamic "
                        "batching would cost vs packing)")
    p.add_argument("--html-strip", action="store_true",
                   help="corpus: reduce HTML to visible text before any "
                        "text statistics (operators/html.py)")
    p.add_argument("--c4-clean", action="store_true",
                   help="corpus: C4 line/page structural cleaning before "
                        "quality scoring (operators/c4.py)")
    p.add_argument("--c4-blocklist", default=None, metavar="FILE",
                   help="corpus: newline-separated bad-words list for the "
                        "C4 word-boundary page rule (needs --c4-clean)")
    p.add_argument("--host-blocklist", default=None, metavar="FILE",
                   help="corpus: newline-separated host blocklist; with "
                        "--url-col, drops documents from blocked hosts")
    p.add_argument("--url-col", default=None,
                   help="corpus: URL column name for --host-blocklist")
    p.add_argument("--analyze", default=None, metavar="SPECS",
                   help="CSV of table.key specs (e.g. "
                        "'orders.o_custkey,customer.c_custkey'): compute "
                        "persisted ANALYZE key-histogram artifacts "
                        "(operators/histjoin.analyze_key_stats) over a "
                        "SHARED key domain into "
                        "--output-dir/_stats/<table>.<key>/ — join-size "
                        "estimates are then served from the stored stats "
                        "with zero table contact")
    p.add_argument("--analyze-buckets", type=int, default=16,
                   help="bucket count for --analyze histograms")
    p.add_argument("--explain-query", default=None, metavar="NAME",
                   help="print the formatted physical plan of a registry "
                        "query (see mongo2mysql_spark.queries) against "
                        "--source-dir and exit; NAME 'list' enumerates")
    return p


def _run_explain(spark, args) -> int:
    from mongo2mysql_spark.queries import load_all

    registry = load_all()
    if args.explain_query == "list":
        for name in sorted(registry):
            print(name)
        return 0
    if args.explain_query not in registry:
        print(f"error: unknown query {args.explain_query!r} "
              f"(--explain-query list)", file=sys.stderr)
        return 2
    if not args.source_dir:
        print("error: --explain-query needs --source-dir", file=sys.stderr)
        return 2
    df = registry[args.explain_query].fn(spark, args.source_dir)
    df.explain("formatted")
    return 0


def _run_analyze(spark, args) -> int:
    """ANALYZE pass: persisted key-histogram statistics for the named
    table.key specs, all bucketed over ONE shared declared domain (the
    union [min, max] of every listed key) so any pair of artifacts is
    estimate-joinable (operators/histjoin.hist_join_estimate_from_stats).
    Writes one parquet artifact per spec plus a JSON summary line."""
    import json
    import os as _os

    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.histjoin import analyze_key_stats

    if not (args.source_dir and args.output_dir):
        print("error: --analyze needs --source-dir and --output-dir",
              file=sys.stderr)
        return 2
    specs = []
    for raw in args.analyze.split(","):
        table, _, key = raw.strip().partition(".")
        if not key:
            print(f"error: --analyze spec {raw!r} is not table.key",
                  file=sys.stderr)
            return 2
        specs.append((table, key))
    frames = {t: load_table(spark, args.source_dir, t)
              for t in {t for t, _ in specs}}
    # shared declared domain: one bounded 1-row aggregate over the
    # union of all listed keys
    keys = None
    for t, k in specs:
        leg = frames[t].select(F.col(k).cast("long").alias("k"))
        keys = leg if keys is None else keys.unionByName(leg)
    dom = keys.agg(F.min("k").alias("lo"), F.max("k").alias("hi")).first()
    if dom["lo"] is None:
        print("error: no non-NULL keys in any listed spec", file=sys.stderr)
        return 2
    lo, hi = int(dom["lo"]), int(dom["hi"])
    summary = {"lo": lo, "hi": hi, "n_buckets": args.analyze_buckets,
               "artifacts": {}}
    for t, k in specs:
        stats = analyze_key_stats(
            frames[t], k, n_buckets=args.analyze_buckets, lo=lo, hi=hi
        )
        path = _os.path.join(args.output_dir, "_stats", f"{t}.{k}")
        stats.write.mode("overwrite").parquet(path)
        summary["artifacts"][f"{t}.{k}"] = path
    print(json.dumps({"analyze": summary}))
    return 0


def _run_corpus(spark, args) -> int:
    import json

    from pyspark.sql import functions as F

    from mongo2mysql_spark.pipelines import CorpusConfig, build_training_corpus

    if not (args.source_dir and args.output_dir):
        print("error: --corpus needs --source-dir and --output-dir", file=sys.stderr)
        return 2
    docs = load_table(spark, args.source_dir, "documents")
    c4_words: tuple[str, ...] = ()
    if args.c4_blocklist:
        with open(args.c4_blocklist) as fh:
            c4_words = tuple(ln.strip() for ln in fh if ln.strip())
    cfg = CorpusConfig(
        html_strip=args.html_strip,
        c4_line_clean=args.c4_clean,
        c4_word_blocklist=c4_words,
        url_col=args.url_col,
        max_ppl=args.max_ppl,
        clf_keep_frac=args.clf_keep_frac,
        dsir_keep_frac=args.dsir_keep_frac,
        near_dedup=args.near_dedup,
        passage_dedup=args.passage_dedup,
        passage_mode=args.passage_mode,
        n_merges=args.n_merges,
        seq_len=args.seq_len,
        bucket_report=args.bucket_report,
        n_shards=args.n_shards,
        shard_format=args.shard_format,
    )
    lm_ref = (
        docs.filter(F.col("source") == args.lm_ref_source)
        if args.lm_ref_source else None
    )
    target = (
        docs.filter(F.col("source") == args.dsir_target_source)
        if args.dsir_target_source else None
    )
    clf_ref = (
        docs.filter(F.col("source") == args.clf_reference_source)
        if args.clf_reference_source else None
    )
    if args.c4_blocklist and not args.c4_clean:
        # same contract as --host-blocklist: never silently skip a
        # filter the user asked for
        print(
            "error: --c4-blocklist requires --c4-clean "
            "(the bad-words rule is part of the C4 page rules)",
            file=sys.stderr,
        )
        return 2
    blocklist = None
    if args.host_blocklist and not args.url_col:
        # build_training_corpus applies the host filter only when it
        # knows which column holds the URL — silently skipping it would
        # let the user believe blocked hosts were dropped
        print(
            "error: --host-blocklist requires --url-col "
            "(no URL column to derive hosts from)",
            file=sys.stderr,
        )
        return 2
    if args.host_blocklist:
        with open(args.host_blocklist) as fh:
            hosts = [ln.strip() for ln in fh if ln.strip()]
        blocklist = spark.createDataFrame([(h,) for h in hosts], "host string")
    cols = ["doc_id", "text"] + ([args.url_col] if args.url_col else [])
    report = build_training_corpus(
        docs.select(*cols), args.output_dir, config=cfg,
        lm_reference=lm_ref, dsir_target=target, clf_reference=clf_ref,
        host_blocklist=blocklist,
    )
    print(json.dumps(report))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from pyspark.sql import SparkSession

    # build_session() is getOrCreate(): an in-process caller (pytest) may
    # already own the session — only stop what main() itself created.
    owns_session = SparkSession.getActiveSession() is None
    spark = build_session(app_name="mongo2mysql-spark-cli")
    try:
        cfg = PorterConfig(
            skip=parse_skip_list(args.skip),
            dataonly=args.dataonly,
            limit=args.limit,
        )
        porter = SparkPorter(spark, cfg)

        if args.explain_query:
            return _run_explain(spark, args)

        if args.analyze:
            return _run_analyze(spark, args)

        if args.corpus:
            return _run_corpus(spark, args)

        if args.incremental:
            if not (args.mongo_uri and args.mdbname and args.sqlite):
                print(
                    "error: --incremental needs --mongo-uri, --mdbname "
                    "and --sqlite",
                    file=sys.stderr,
                )
                return 2
            import functools
            import re as _re
            import sqlite3 as _sqlite3

            import pymongo  # gated: absent in the test container

            from mongo2mysql_spark.sources.jdbc import execute_ddl
            from mongo2mysql_spark.sync import incremental_export

            client = pymongo.MongoClient(args.mongo_uri)
            db = client[args.mdbname]
            names = (
                args.collections.split(",") if args.collections
                else sorted(db.list_collection_names())
            )
            factory = functools.partial(_sqlite3.connect, args.sqlite)

            def inc_ddl(stmts, _f=factory):
                # same sqlite dialect shim as the batch sink path
                execute_ddl(
                    [_re.sub(r"`\((\d+)\)", "`", s) for s in stmts], _f
                )

            for n in names:
                r = incremental_export(
                    spark, db[n], n, porter, factory,
                    ddl_executor=inc_ddl,
                )
                frm = r["resumed_from"]
                print(
                    f"{n} [incremental] +{r['docs']} docs "
                    f"(from {'scratch' if frm is None else f'_id>{frm}'})"
                )
            return 0

        if args.stream:
            if not (args.source_dir and args.output_dir):
                print("error: --stream needs --source-dir and --output-dir", file=sys.stderr)
                return 2
            import os as _os

            from mongo2mysql_spark.streaming.pipeline import stream_collection_export

            names = (
                args.collections.split(",") if args.collections
                else list_collections(args.source_dir)
            )
            out_dir = args.output_dir
            written: set[str] = set()

            def stream_sink(table, df, _out=out_dir, _seen=written):
                # first batch overwrites stale output, later batches append
                mode = "append" if table in _seen else "overwrite"
                _seen.add(table)
                df.write.mode(mode).parquet(f"{_out}/{table}.parquet")

            for n in names:
                stream_collection_export(
                    spark, _os.path.join(args.source_dir, f"{n}.parquet"),
                    n, porter, stream_sink,
                )
                print(f"{n} [streamed]")
            return 0

        if args.source_dir:
            names = (
                args.collections.split(",") if args.collections
                else list_collections(args.source_dir)
            )
            collections = {n: load_table(spark, args.source_dir, n) for n in names}
        elif args.mongo_uri and args.mdbname:
            from mongo2mysql_spark.sources.mongodb import list_collections as mongo_ls
            from mongo2mysql_spark.sources.mongodb import read_collection

            names = (
                args.collections.split(",") if args.collections
                else mongo_ls(args.mongo_uri, args.mdbname)
            )
            collections = {
                n: read_collection(spark, args.mongo_uri, args.mdbname, n) for n in names
            }
        else:
            print("error: need --source-dir or (--mongo-uri and --mdbname)", file=sys.stderr)
            return 2

        sink = None
        if args.output_dir:
            out_dir = args.output_dir

            def sink(table, df, _out=out_dir):
                df.write.mode("overwrite").parquet(f"{_out}/{table}.parquet")

        elif args.dbname:  # pragma: no cover - needs MySQL
            url = f"jdbc:mysql://{args.host}:{args.port}/{args.dbname}"
            props = {"user": args.username, "password": args.password}
            from mongo2mysql_spark.sources.jdbc import write_append

            def sink(table, df, _url=url, _props=props):
                write_append(df, _url, table, _props, truncate=args.dataonly)

        ddl_executor = None
        if args.sqlite:
            import functools
            import re as _re
            import sqlite3 as _sqlite3

            from mongo2mysql_spark.sources.jdbc import (
                execute_ddl,
                stringify_temporals,
                write_upsert,
            )

            factory = functools.partial(_sqlite3.connect, args.sqlite)

            def sink(table, df, _f=factory):  # noqa: F811 - sqlite wins
                return write_upsert(
                    stringify_temporals(df), table, _f, mode="replace",
                    batch_size=500, max_connections=1,
                )

            def ddl_executor(stmts, _f=factory):
                # sqlite dialect shim: no index prefix lengths on text
                # primary keys (MySQL's `col`(191) form)
                execute_ddl(
                    [_re.sub(r"`\((\d+)\)", "`", s) for s in stmts], _f
                )

        reporter = None
        if args.progress and sink is not None:
            from mongo2mysql_spark.telemetry import ProgressReporter

            reporter = ProgressReporter()
        exports = porter.run(
            collections, sink=sink, ddl_executor=ddl_executor, reporter=reporter
        )
        for name, export in exports.items():
            for t in export.tables:
                print(f"{name} -> {t}")
            for stmt in export.ddl:
                print(stmt.replace(chr(10), " "))
        return 0
    except Exception as exc:
        print(f"error: {exc}", file=sys.stderr)  # cli.php:36-41 error path
        return 1
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
