"""The benchmark's user journeys and the workloads made of them.

A journey drives one user task through the package's public functions
on a warm session: a bulk phase, timed cold (the first time this
process runs its plans, as a CLI user pays it), and, where the task has
one, a closed loop of small steps: one client, the next step starts
when the previous one returns.  The loop's first step is a warm-up: it
is timed and checked like the rest, but the step metrics leave it out.

A workload runs one or more journeys in one process.  ``migrate`` is the
ETL journey alone; ``corpus_build`` builds a training corpus and then
an ANN index over an embedding collection, and serves query batches
from it (README.md says why the ANN journey rides in that workload).

Each timed operation is followed, outside its timing, by checks of its
output against what the generator says it must be.  An operation that
raises or fails a check counts as failed.  Throughput denominators come
from the generator, never from what the program emitted, so a run that
loses rows cannot look faster.
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
import re
import shutil
import sqlite3
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import gen
from stats import summarize


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds, user and system, used so far by process ``root``
    (this one by default) and its live descendants, including what
    they have reaped from children that ended.  The kernel leaves time
    the hypervisor stole from a vCPU out of these counters."""
    root = os.getpid() if root is None else root
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # ended while we listed
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(name)] = int(fields[1])
        cpu[int(name)] = sum(int(x) for x in fields[11:15])
    ticks = 0
    for pid, c in cpu.items():
        p = pid
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root:
            ticks += c
    return ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class Op:
    journey: str
    kind: str  # "bulk", "warmup" or "step"
    start: float
    end: float = 0.0
    cpu: float = 0.0  # CPU seconds of the process tree while it ran
    ok: bool = True
    errors: list[str] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Outcome:
    """Every timed operation of a run, the input sizes, and the figures
    each journey reports under its own names as ``name -> (value, unit)``."""

    inputs: dict = field(default_factory=dict)
    ops: list[Op] = field(default_factory=list)
    figures: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    def fail(self, op: Op, message: str) -> None:
        op.ok = False
        op.errors.append(message)

    def timed(self, journey: str, kind: str, fn):
        """Run ``fn`` as one timed operation; an exception marks it
        failed.  Returns the op and ``fn``'s result (None on failure)."""
        cpu0 = tree_cpu_s()
        op = Op(journey, kind, time.time())
        self.ops.append(op)
        try:
            result = fn()
        except Exception:  # noqa: BLE001 - a failed op is a measured outcome
            result = None
            self.fail(op, traceback.format_exc(limit=3))
        op.end = time.time()
        op.cpu = tree_cpu_s() - cpu0
        return op, result

    def step_walls(self, journey: str) -> list[float]:
        return [op.wall for op in self.ops if op.journey == journey and op.kind == "step"]


def closed_loop(out: Outcome, journey: str, steps, seconds: float, min_steps: int) -> list:
    """Run the callables ``steps`` yields one after another as timed
    operations: the first as a warm-up, then steps for at least
    ``seconds`` and ``min_steps``.  The next callable is only drawn once
    the loop goes on.  Returns ``(op, result)`` per operation run."""
    ran = []
    t0 = 0.0
    for i, fn in enumerate(steps):
        ran.append(out.timed(journey, "step" if i else "warmup", fn))
        if i == 0:
            t0 = time.time()
        elif i >= min_steps and time.time() - t0 >= seconds:
            break
    return ran


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ---------------------------------------------------------------- migrate


class Migrate:
    """Bulk export of three Mongo-shaped collections into a fresh sqlite
    file through ``SparkPorter.run`` with the REPLACE-upsert sink of
    ``cli --sqlite``, then catch-up ``sync.incremental_export`` calls,
    each of ``SYNC_BATCH`` newly arrived orders: a warm-up call, then
    at least ``MIN_STEPS`` timed calls."""

    name = "migrate"
    # At these sizes every table arrives whole; at ``scale`` 40 the seed
    # code loses rows under AQE (see README.md).
    N_ORDERS, N_EVENTS, N_DOCS = 1000, 1500, 500
    SYNC_BATCH = 50
    MIN_STEPS, MAX_STEPS = 1, 12

    def __init__(self, seed: int, work: str, scale: int = 1):
        self.dir = os.path.join(work, "migrate")
        self.inputs_dir = os.path.join(self.dir, f"seed{seed}-x{scale}")
        self.exp = gen.migrate_inputs(
            seed, self.inputs_dir, self.N_ORDERS * scale, self.N_EVENTS * scale,
            self.N_DOCS * scale, self.SYNC_BATCH * self.MAX_STEPS,
        )

    def run(self, spark, tracer, seconds: float, out: Outcome) -> None:
        from mongo2mysql_spark import sync
        from mongo2mysql_spark.porter import SparkPorter
        from mongo2mysql_spark.sources import jdbc

        exp = self.exp
        out.inputs[self.name] = {k: exp[k] for k in ("docs", "bytes", "rows")}
        db = os.path.join(_fresh_dir(os.path.join(self.dir, "sink")), "sink.sqlite")
        factory = functools.partial(sqlite3.connect, db)

        def sink(table, df):
            with tracer.span("sources.jdbc.write_upsert"):
                jdbc.write_upsert(
                    jdbc.stringify_temporals(df), table, factory, mode="replace",
                    batch_size=500, max_connections=1,
                )

        def ddl(statements):
            # the sqlite dialect shim of ``cli --sqlite``
            with tracer.span("sources.jdbc.execute_ddl"):
                jdbc.execute_ddl([re.sub(r"`\((\d+)\)", "`", s) for s in statements], factory)

        def bulk():
            collections = {
                name: spark.read.parquet(os.path.join(self.inputs_dir, f"{name}.parquet"))
                for name in ("orders", "events", "documents")
            }
            SparkPorter(spark).run(collections, sink=sink, ddl_executor=ddl)

        op, _ = out.timed(self.name, "bulk", bulk)
        out.figures["export_rows_per_s"] = (exp["rows"] / op.wall, f"rows/s at {exp['rows']} rows")
        if not op.ok:
            return
        for message in check_sink_tables(db, exp["tables"]):
            out.fail(op, message)

        collection = gen.FakeCollection(exp["orders"])
        batches: list[list[dict]] = []

        def sync_call():
            with tracer.span("sync.incremental_export"):
                return sync.incremental_export(
                    spark, collection, "orders", SparkPorter(spark), factory,
                    batch_size=self.SYNC_BATCH, ddl_executor=ddl,
                )

        def sync_calls():
            pending = list(exp["new_orders"])
            while pending:
                batch, pending = pending[: self.SYNC_BATCH], pending[self.SYNC_BATCH:]
                collection.docs.extend(batch)  # new documents arrive
                batches.append(batch)
                yield sync_call

        synced = closed_loop(out, self.name, sync_calls(), seconds, self.MIN_STEPS)
        high_water = len(exp["orders"])
        for (step_op, result), batch in zip(synced, batches):
            if result is not None:
                for message in check_synced(db, batch, result, high_water):
                    out.fail(step_op, message)
            high_water = batch[-1]["_id"]
        con = sqlite3.connect(db)
        try:
            out.extra["sink_rows"] = sum(
                con.execute(f'SELECT COUNT(*) FROM "{t}"').fetchone()[0] for t in _sqlite_tables(con)
            )
        finally:
            con.close()

        steps = out.step_walls(self.name)
        out.figures["sync_docs_per_s"] = (
            self.SYNC_BATCH / statistics.median(steps), f"docs/s at {self.SYNC_BATCH} docs per call"
        )
        out.figures["sync_call_s"] = (summarize(steps), "s")


def _sqlite_tables(con) -> set[str]:
    return {r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type = 'table'")}


def check_sink_tables(db: str, expected: dict[str, int]) -> list[str]:
    """Per destination table: the row count the generator expects, one
    row per primary key, and ``_num`` numbering the rows exactly 1..n.
    Returns one message per violation."""
    problems = []
    con = sqlite3.connect(db)
    try:
        present = _sqlite_tables(con)
        for table in sorted(set(expected) | present):
            want = expected.get(table)
            if table not in present:
                problems.append(f"{table}: missing (expected {want} rows)")
                continue
            pk = '"_parentid", "_index"' if "__" in table else '"_id"'
            n, n_pk, lo, hi, n_num = con.execute(
                f'SELECT COUNT(*), (SELECT COUNT(*) FROM (SELECT DISTINCT {pk} FROM "{table}")), '
                f'MIN("_num"), MAX("_num"), COUNT(DISTINCT "_num") FROM "{table}"'
            ).fetchone()
            if n != want:
                problems.append(f"{table}: {n} rows, expected {want}")
            if n_pk != n:
                problems.append(f"{table}: {n_pk} distinct keys for {n} rows")
            if n and (lo, hi, n_num) != (1, n, n):
                problems.append(f"{table}: _num spans {lo}..{hi} with {n_num} values, expected 1..{n}")
    finally:
        con.close()
    return problems


def check_synced(db: str, batch: list[dict], result: dict, high_water: int) -> list[str]:
    """After one catch-up call: it resumed from the previous high-water
    mark, read exactly the new documents, and every new parent row and
    spilled item row is in the sink."""
    problems = []
    if result.get("resumed_from") != high_water:
        problems.append(f"resumed from {result.get('resumed_from')}, expected {high_water}")
    if result.get("docs") != len(batch):
        problems.append(f"synced {result.get('docs')} docs, expected {len(batch)}")
    lo, hi = batch[0]["_id"], batch[-1]["_id"]
    con = sqlite3.connect(db)
    try:
        parents = con.execute(
            'SELECT COUNT(DISTINCT "_id") FROM "orders" WHERE "_id" BETWEEN ? AND ?', (lo, hi)
        ).fetchone()[0]
        items = con.execute(
            'SELECT COUNT(*) FROM "orders__items" WHERE "_parentid" BETWEEN ? AND ?', (lo, hi)
        ).fetchone()[0]
    finally:
        con.close()
    if parents != len(batch):
        problems.append(f"orders {lo}..{hi}: {parents} parent rows, expected {len(batch)}")
    want_items = sum(len(d["items"]) for d in batch)
    if items != want_items:
        problems.append(f"orders__items of {lo}..{hi}: {items} rows, expected {want_items}")
    return problems


# ----------------------------------------------------------- corpus build


class CorpusBuild:
    """``pipelines.build_training_corpus`` over a perturbed corpus with
    near-dedup, passage-dedup, decontamination, BPE merges, packing and
    parquet shards, timed as one cold build."""

    name = "corpus"
    N_BASE = 120

    def __init__(self, seed: int, work: str):
        self.dir = os.path.join(work, "corpus_build")
        self.inputs_dir = os.path.join(self.dir, f"seed{seed}")
        self.exp = gen.corpus_inputs(seed, self.inputs_dir, self.N_BASE)

    @staticmethod
    def config():
        from mongo2mysql_spark.pipelines import CorpusConfig

        return CorpusConfig(
            near_dedup=True, passage_dedup=True, n_merges=2, bpe_sample_docs=40,
            seq_len=256, n_shards=2, shard_format="parquet",
        )

    def run(self, spark, tracer, seconds: float, out: Outcome) -> None:
        from mongo2mysql_spark import pipelines

        exp = self.exp
        out.inputs[self.name] = {
            k: exp[k] for k in ("docs", "bytes", "exact_dups", "near_dups", "passage_docs", "contaminated")
        }
        out_dir = os.path.join(self.dir, "out")
        cfg = self.config()

        def bulk():
            with tracer.span("pipelines.build_training_corpus"):
                return pipelines.build_training_corpus(
                    spark.read.parquet(os.path.join(self.inputs_dir, "docs.parquet")),
                    out_dir,
                    benchmark=spark.read.parquet(os.path.join(self.inputs_dir, "bench.parquet")),
                    config=cfg,
                )

        op, report = out.timed(self.name, "bulk", bulk)
        out.figures["corpus_docs_per_s"] = (exp["docs"] / op.wall, f"docs/s at {exp['docs']} docs")
        if not op.ok:
            return
        train_path = os.path.join(out_dir, "train")
        train_ids = [r.doc_id for r in spark.read.parquet(train_path).select("doc_id").collect()]
        for message in check_corpus_report(report, exp["stages"], cfg.seq_len, len(train_ids)):
            out.fail(op, message)
        if len(set(train_ids)) != len(train_ids):
            out.fail(op, "train shards hold a document twice")
        # the same inputs, config and program must give the same shards:
        # compare with the digest an earlier build of them left behind
        key = hashlib.sha256(
            repr((exp["input_digest"], cfg, source_digest())).encode()
        ).hexdigest()[:16]
        digest_file = os.path.join(self.dir, f"train-digest-{key}.txt")
        digest = shard_digest(train_path)
        if os.path.exists(digest_file):
            with open(digest_file) as fh:
                if fh.read() != digest:
                    out.fail(op, "train shards differ from an earlier build of the same inputs")
        else:
            with open(digest_file, "w") as fh:
                fh.write(digest)


def check_corpus_report(report: dict, stages: dict, seq_len: int, n_train_rows: int) -> list[str]:
    """Each stage count falls in the range the generator derived from
    what it injected, so a build that skips a pass or drops documents
    fails; the splits partition the last stage; packing used every
    train token; the shards hold every train document."""
    missing = [k for k in stages if k not in report]
    if missing:
        return [f"report lacks stages {missing}"]
    problems = [
        f"{k} {report[k]}, expected {lo}" + (f"..{hi}" if hi != lo else "")
        for k, (lo, hi) in stages.items()
        if not lo <= report[k] <= hi
    ]
    last = report[list(stages)[-1]]
    splits = report["train_docs"] + report["val_docs"] + report["test_docs"]
    if splits != last:
        problems.append(f"train+val+test = {splits}, last stage {last}")
    want_seqs = math.ceil(report["train_tokens"] / seq_len)
    if report["n_sequences"] != want_seqs:
        problems.append(f"n_sequences {report['n_sequences']}, expected {want_seqs}")
    if n_train_rows != report["train_docs"]:
        problems.append(f"train shards hold {n_train_rows} rows, report says {report['train_docs']}")
    return problems


def source_digest() -> str:
    """Digest of the package's Python sources."""
    import importlib.util

    (pkg,) = importlib.util.find_spec("mongo2mysql_spark").submodule_search_locations
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def shard_digest(path: str) -> str:
    """Digest of a shard directory's rows, in stored order, file by file
    and keyed by each file's directory.  It reads the rows rather than
    hashing file bytes: parquet-mr writes each column chunk's encoding
    list in hash-set order, which differs between JVM runs (README.md),
    and file names carry job ids."""
    import pyarrow.parquet as pq

    from mongo2mysql_spark.sources.lake import parquet_files

    h = hashlib.sha256()
    for f in sorted(parquet_files(path), key=lambda f: (os.path.dirname(os.path.relpath(f, path)), f)):
        h.update(os.path.dirname(os.path.relpath(f, path)).encode())
        h.update(repr(pq.read_table(f).to_pydict()).encode())
    return h.hexdigest()


# ------------------------------------------------------------- ANN search


class AnnSearch:
    """Cold IVFADC build with ``operators.pq.build_pq_residual_index``,
    then a closed loop of ``pq_ivfadc_topk`` query batches: a warm-up
    batch, then at least ``MIN_STEPS`` timed batches.  Recall@10
    is scored, after the timed phase, against an exact NumPy cosine
    top-10 that does not run through the program."""

    name = "ann"
    N, DIM, CLUSTERS = 1000, 64, 16
    BATCH, MAX_BATCHES, MIN_STEPS = 20, 8, 2
    INDEX = {"m_sub": 4, "centroid_stride": 40, "code_stride": 20, "k_max": 8, "train_iters": 1}
    SEARCH = {"nprobe": 8, "k": 10, "rerank": 16}
    # recall@10 of every batch must reach this; a faster search that
    # trades recall away fails its check instead of looking faster
    MIN_RECALL = 0.7

    def __init__(self, seed: int, work: str):
        self.inputs_dir = os.path.join(work, "ann_search", f"seed{seed}")
        self.exp = gen.ann_inputs(
            seed, self.inputs_dir, self.N, self.DIM, self.CLUSTERS, self.BATCH * self.MAX_BATCHES
        )

    def run(self, spark, tracer, seconds: float, out: Outcome) -> None:
        from pyspark.sql import functions as F

        from mongo2mysql_spark.operators import pq

        out.inputs[self.name] = {k: self.exp[k] for k in ("docs", "bytes", "n_queries")}
        corpus = spark.read.parquet(os.path.join(self.inputs_dir, "corpus.parquet"))
        queries = spark.read.parquet(os.path.join(self.inputs_dir, "queries.parquet"))

        def bulk():
            with tracer.span("operators.pq.build_pq_residual_index"):
                cells, books, codes = pq.build_pq_residual_index(
                    corpus, "vec_id", "embedding", **self.INDEX
                )
                # the serving side scans the codes on every query batch
                codes = codes.persist()
                return cells, books, codes, codes.count()

        op, built = out.timed(self.name, "bulk", bulk)
        out.figures["ann_build_s"] = (op.wall, f"s for {self.N} vectors")
        if not op.ok:
            return
        cells, books, codes, n_codes = built
        if n_codes != self.N:
            out.fail(op, f"index holds {n_codes} codes for {self.N} vectors")
        index = (cells, books, codes)

        def search(qb):
            with tracer.span("operators.pq.pq_ivfadc_topk"):
                return pq.pq_ivfadc_topk(
                    corpus, qb, "vec_id", "embedding", index,
                    centroid_stride=self.INDEX["centroid_stride"], **self.SEARCH,
                ).collect()

        def search_batches():
            for b in range(self.MAX_BATCHES):
                qb = queries.filter(F.floor((F.col("vec_id") - gen.QUERY_ID0) / self.BATCH) == b)
                yield functools.partial(search, qb)

        batches = closed_loop(out, self.name, search_batches(), seconds, self.MIN_STEPS)
        codes.unpersist()

        k = self.SEARCH["k"]
        truth = exact_topk(self.exp["corpus"], self.exp["queries"], k)
        hits = total = 0
        for b, (step_op, rows) in enumerate(batches):
            if rows is None:
                continue
            want_q = set(range(gen.QUERY_ID0 + b * self.BATCH, gen.QUERY_ID0 + (b + 1) * self.BATCH))
            for message in check_topk(rows, want_q, self.N, k):
                out.fail(step_op, message)
            got: dict[int, set[int]] = {}
            for r in rows:
                got.setdefault(r.query_id, set()).add(r.neighbor_id)
            h = sum(len(got.get(q, set()) & truth[q - gen.QUERY_ID0]) for q in want_q)
            recall = h / (len(want_q) * k)
            if recall < self.MIN_RECALL:
                out.fail(step_op, f"batch {b}: recall@10 {recall:.3f} < {self.MIN_RECALL}")
            hits += h
            total += len(want_q) * k
        out.extra["recall_at_10"] = hits / total if total else 0.0
        out.figures["ann_query_p50_s"] = (
            summarize(out.step_walls(self.name)), f"s per batch of {self.BATCH} queries"
        )
        out.figures["ann_recall_at_10"] = (out.extra["recall_at_10"], "ratio")


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> list[set[int]]:
    """Exact top-``k`` corpus rows by cosine, one set per query row."""
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q.astype(np.float64) @ c.astype(np.float64).T
    return [set(np.argsort(-row, kind="stable")[:k].tolist()) for row in sims]


def check_topk(rows, query_ids: set[int], n_corpus: int, k: int) -> list[str]:
    """A batch answers every query with exactly ``k`` distinct corpus
    ids, ranked 1..k."""
    problems = []
    per_query: dict[int, list] = {}
    for r in rows:
        per_query.setdefault(r.query_id, []).append(r)
    if set(per_query) != query_ids:
        problems.append(f"answered {len(per_query)} of {len(query_ids)} queries")
    if len(rows) != len(query_ids) * k:
        problems.append(f"{len(rows)} rows for {len(query_ids)} queries x {k}")
    for q, rs in per_query.items():
        if sorted(r.rank for r in rs) != list(range(1, k + 1)):
            problems.append(f"query {q}: ranks {sorted(r.rank for r in rs)}")
        ids = [r.neighbor_id for r in rs]
        if len(set(ids)) != len(ids) or not all(0 <= i < n_corpus for i in ids):
            problems.append(f"query {q}: invalid neighbour ids {ids}")
    return problems[:10]


# -------------------------------------------------------------- workloads


WORKLOADS = ("migrate", "corpus_build")


def make_journeys(name: str, seed: int, work: str, scale: int = 1) -> list:
    """The journeys of workload ``name``, with their inputs generated."""
    if name == "migrate":
        return [Migrate(seed, work, scale)]
    if name == "corpus_build":
        return [CorpusBuild(seed, work), AnnSearch(seed, work)]
    raise KeyError(name)


def run_journeys(journeys: list, spark, tracer, seconds: float) -> Outcome:
    """Run ``journeys`` in order on one session."""
    out = Outcome()
    for journey in journeys:
        journey.run(spark, tracer, seconds, out)
    return out
