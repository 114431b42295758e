"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sqlite3
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402
import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

# ------------------------------------------------------------------ stats


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [(1, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_summarize_reports_count_and_tail_only_when_supported():
    assert stats.summarize([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3}
    s = stats.summarize(range(1, 101))
    assert s["n"] == 100 and s["median"] == 50.5 and s["p90"] == pytest.approx(90.1)


# --------------------------------------------------------------- event log


def _read_log():
    with open(os.path.join(HERE, "data", "eventlog.jsonl")) as fh:
        return spans.parse_event_log(fh)


def test_parse_event_log_attributes_jobs_and_task_metrics():
    jobs = _read_log()
    # the captured session ran one untagged warm-up job, then two jobs
    # under span 0 and a shuffle job (two stages) under span 1
    assert sorted(j.span for j in jobs.values() if j.span is not None) == [0, 0, 1]
    assert sum(1 for j in jobs.values() if j.span is None) == 1
    for job in jobs.values():
        assert job.end >= job.start > 1.6e9
    shuffled = [j for j in jobs.values() if j.span == 1]
    assert shuffled[0].shuffle_write_b > 0 and shuffled[0].exec_cpu_s > 0
    assert all(j.shuffle_write_b == 0 for j in jobs.values() if j.span == 0)


def test_union_length_merges_and_clips():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert spans.union_length([(3, 1)]) == 0.0


def test_rollup_self_driver_and_session_counters():
    s = [
        spans.Span(0, "sync.incremental_export", None, 0.0, 10.0),
        spans.Span(1, "porter.export_collection", 0, 1.0, 4.0),
        spans.Span(2, "plans.infer", 1, 2.0, 3.0),
        spans.Span(3, "sync.incremental_export", 0, 5.0, 6.0),  # nested, same layer
    ]
    jobs = {
        0: spans.Job(2, 2.2, 2.8, exec_cpu_s=0.5, shuffle_write_b=2**20, spill_b=2**21),
        1: spans.Job(0, 7.0, 9.0, exec_cpu_s=1.0),
        2: spans.Job(None, 20.0, 21.0),  # outside every window
    }
    roll = spans.rollup(s, jobs, [(0.0, 10.0)])
    exp = roll["layers"]["sync.incremental_export"]
    assert exp.calls == 1 and exp.wall_s == 10.0
    assert exp.self_s == pytest.approx(10.0 - 3.0 - 1.0)
    assert exp.jobs == 2 and exp.exec_cpu_s == 1.5 and exp.shuffle_write_mb == 1.0
    assert exp.driver_s == pytest.approx(10.0 - 0.6 - 2.0)
    infer = roll["layers"]["plans.infer"]
    assert infer.jobs == 1 and infer.driver_s == pytest.approx(0.4) and infer.spill_mb == 2.0
    porter = roll["layers"]["porter.export_collection"]
    assert porter.self_s == pytest.approx(2.0) and porter.jobs == 1
    assert roll["session.jobs"] == 2
    assert roll["session.driver_s"] == pytest.approx(10.0 - 2.6)
    assert roll["trace.coverage"] == pytest.approx(1.0)


def test_tracer_patches_where_callers_resolve_and_restores():
    import mongo2mysql_spark.porter as porter

    original = porter.infer_table_schema
    tracer = spans.Tracer()
    tracer.install({"plans.infer": (("mongo2mysql_spark.porter", "infer_table_schema"),)})
    try:
        assert porter.infer_table_schema is not original
        with tracer.span("outer"):
            with pytest.raises(AttributeError):
                porter.infer_table_schema(None)  # the wrapped call runs and raises
    finally:
        tracer.uninstall()
    assert porter.infer_table_schema is original
    assert [(x.name, x.parent) for x in tracer.spans] == [("outer", None), ("plans.infer", 0)]
    assert all(x.end >= x.start for x in tracer.spans)
    assert tracer.overhead_s > 0


def test_metric_names_match_benchmark_json():
    import json

    import run

    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = spans.per_layer_metric_names()
    assert len(names) == len({n for n, _ in names}) <= 128
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == names
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


# ------------------------------------------------------------- sink checks


def _sink(path, parents=3, children=((1, 0), (1, 1), (2, 0))):
    con = sqlite3.connect(path)
    con.execute('CREATE TABLE "orders" ("_id" INTEGER PRIMARY KEY, "_num" INTEGER)')
    con.executemany('INSERT INTO "orders" VALUES (?, ?)', [(i + 1, i + 1) for i in range(parents)])
    con.execute(
        'CREATE TABLE "orders__items" ("_parentid" INTEGER, "_index" INTEGER, "_num" INTEGER)'
    )
    con.executemany(
        'INSERT INTO "orders__items" VALUES (?, ?, ?)',
        [(p, i, n + 1) for n, (p, i) in enumerate(children)],
    )
    con.commit()
    return con


def test_sink_checks_pass_on_a_complete_sink(tmp_path):
    db = str(tmp_path / "s.sqlite")
    _sink(db).close()
    assert workloads.check_sink_tables(db, {"orders": 3, "orders__items": 3}) == []


def test_sink_checks_name_each_violation(tmp_path):
    db = str(tmp_path / "s.sqlite")
    con = _sink(db, children=((1, 0), (1, 0), (2, 0)))  # duplicate child key
    con.execute('UPDATE "orders" SET "_num" = 7 WHERE "_id" = 3')  # _num gap
    con.commit()
    con.close()
    problems = workloads.check_sink_tables(
        db, {"orders": 4, "orders__items": 3, "documents": 2}
    )
    assert any(p.startswith("documents: missing") for p in problems)
    assert "orders: 3 rows, expected 4" in problems
    assert any(p.startswith("orders: _num spans 1..7") for p in problems)
    assert "orders__items: 2 distinct keys for 3 rows" in problems


def test_sync_check_requires_every_new_parent_and_child(tmp_path):
    db = str(tmp_path / "s.sqlite")
    _sink(db, parents=3, children=((1, 0), (3, 0))).close()
    batch = [{"_id": 2, "items": [{}]}, {"_id": 3, "items": [{}]}]
    ok = {"docs": 2, "resumed_from": 1}
    assert workloads.check_synced(db, batch, ok, 1) == [
        "orders__items of 2..3: 1 rows, expected 2"
    ]
    problems = workloads.check_synced(db, batch, {"docs": 1, "resumed_from": None}, 1)
    assert "resumed from None, expected 1" in problems and "synced 1 docs, expected 2" in problems


# ------------------------------------------------------------ closed loop


def test_closed_loop_warms_up_then_runs_the_minimum_and_draws_no_extra_step():
    drawn = []

    def steps():
        for i in range(10):
            drawn.append(i)
            yield lambda i=i: i * 10

    out = workloads.Outcome()
    ran = workloads.closed_loop(out, "j", steps(), seconds=0.0, min_steps=2)
    assert [r for _, r in ran] == [0, 10, 20]
    assert [op.kind for op in out.ops] == ["warmup", "step", "step"]
    assert drawn == [0, 1, 2]
    assert out.step_walls("j") == [op.wall for op in out.ops[1:]]


def test_tree_cpu_counts_children_live_and_reaped():
    import subprocess

    burn = [sys.executable, "-c", "import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.5: pass\nprint(flush=True)\ninput()"]
    before = workloads.tree_cpu_s()
    child = subprocess.Popen(burn, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    child.stdout.readline()  # the child has burnt its CPU and waits
    live = workloads.tree_cpu_s()
    child.communicate("\n")
    reaped = workloads.tree_cpu_s()
    assert live - before >= 0.4
    assert reaped >= live
    assert workloads.tree_cpu_s(child.pid) == 0.0  # an ended process has no tree


def test_closed_loop_counts_a_raising_step_as_failed_and_goes_on():
    def boom():
        raise RuntimeError("boom")

    out = workloads.Outcome()
    ran = workloads.closed_loop(out, "j", iter([lambda: 1, boom, lambda: 3]), 0.0, 2)
    assert [r for _, r in ran] == [1, None, 3]
    assert [op.ok for op in out.ops] == [True, False, True]


# ---------------------------------------------------- fake collection, gen


def test_fake_collection_resumes_after_high_water_mark():
    from mongo2mysql_spark.sources.mongodb import iter_collection_batches

    docs = [{"_id": i, "v": i * i} for i in (5, 1, 4, 2, 3)]
    coll = gen.FakeCollection(docs)
    batches = list(iter_collection_batches(coll, batch_size=2, resume_from=2))
    assert [[d["_id"] for d in b] for b in batches] == [[3, 4], [5]]
    assert coll.queries == [{"_id": {"$gt": 2}}]
    assert [d["_id"] for d in coll.find().sort("_id", -1)] == [5, 4, 3, 2, 1]
    with pytest.raises(ValueError):
        coll.find({"_id": {"$gte": 1}})


def test_migrate_inputs_are_seeded_and_count_every_destination_row(tmp_path):
    a = gen.migrate_inputs(7, str(tmp_path / "a"), 60, 90, 30, 20)
    b = gen.migrate_inputs(7, str(tmp_path / "b"), 60, 90, 30, 20)
    c = gen.migrate_inputs(8, str(tmp_path / "c"), 60, 90, 30, 20)
    assert a["tables"] == b["tables"] and a["new_orders"] == b["new_orders"]
    assert a["tables"] != c["tables"]
    for name in ("orders", "events", "documents"):
        with open(tmp_path / "a" / f"{name}.parquet", "rb") as fa, \
                open(tmp_path / "b" / f"{name}.parquet", "rb") as fb:
            assert fa.read() == fb.read()
    t = a["tables"]
    assert t["orders"] == 60 and t["documents"] == 30
    assert t["orders__items"] == sum(len(o["items"]) for o in a["orders"])
    routed = {table for _, table in gen.KEY_TEMPLATES}
    assert sum(n for k, n in t.items() if k in routed) == 90 and len(routed) >= 5
    assert a["rows"] == sum(t.values())
    assert min(o["_id"] for o in a["new_orders"]) == 61


def test_corpus_inputs_are_seeded_and_predict_every_stage(tmp_path):
    exp = gen.corpus_inputs(3, str(tmp_path / "a"), 100)
    assert exp == gen.corpus_inputs(3, str(tmp_path / "b"), 100)
    assert exp["input_digest"] != gen.corpus_inputs(4, str(tmp_path / "c"), 100)["input_digest"]
    texts = pq.read_table(tmp_path / "a" / "docs.parquet").column("text").to_pylist()
    assert exp["docs"] == len(texts) == 100 + 10 + 10
    assert len(texts) - len(set(texts)) == exp["exact_dups"]
    # exact dedup keys on each document's set of words
    assert len(texts) - len({frozenset(t.split(" ")) for t in texts}) == exp["exact_dups"]
    sized = [set(t.split(" ")) for t in texts if t.count(" ") + 1 == gen.PASSAGE_WORDS + gen.PASSAGE_OWN_WORDS]
    sharing = [a for a in sized if any(a is not b and len(a & b) >= gen.PASSAGE_WORDS for b in sized)]
    assert len(sharing) == exp["passage_docs"] == 5
    st = exp["stages"]
    assert st["after_exact_dedup"] == (110, 110)
    assert st["after_near_dedup"] == (96, 100)
    assert st["after_decontam"] == (96 - exp["contaminated"],) * 2


def test_ann_inputs_write_what_they_return(tmp_path):
    exp = gen.ann_inputs(5, str(tmp_path), 50, 8, 3, 7)
    queries = pq.read_table(tmp_path / "queries.parquet").to_pydict()
    assert queries["vec_id"] == list(range(gen.QUERY_ID0, gen.QUERY_ID0 + 7))
    assert np.allclose(np.array(queries["embedding"], dtype=np.float32), exp["queries"])
    assert exp["corpus"].shape == (50, 8) and exp["n_queries"] == 7


# --------------------------------------------------------- output checks


STAGES = {
    "input_docs": (10, 10), "after_quality_filter": (10, 10), "after_exact_dedup": (9, 9),
    "after_near_dedup": (7, 8), "after_passage_dedup": (7, 7), "after_decontam": (6, 6),
}
REPORT = {
    "input_docs": 10, "after_quality_filter": 10, "after_exact_dedup": 9,
    "after_near_dedup": 8, "after_passage_dedup": 7, "after_decontam": 6,
    "train_docs": 4, "val_docs": 1, "test_docs": 1, "train_tokens": 513, "n_sequences": 3,
}


def test_corpus_report_checks_pass_on_the_expected_report():
    assert workloads.check_corpus_report(REPORT, STAGES, 256, 4) == []


def test_corpus_report_checks_catch_a_skipped_pass_and_bad_packing():
    skipped = dict(REPORT, after_exact_dedup=10, after_near_dedup=9, n_sequences=2)
    problems = workloads.check_corpus_report(skipped, STAGES, 256, 3)
    assert problems == [
        "after_exact_dedup 10, expected 9",
        "after_near_dedup 9, expected 7..8",
        "n_sequences 2, expected 3",
        "train shards hold 3 rows, report says 4",
    ]


def test_corpus_report_checks_catch_a_build_that_drops_everything():
    empty = dict(REPORT, train_docs=0, val_docs=0, test_docs=0, train_tokens=0, n_sequences=0)
    for stage in list(STAGES)[1:]:
        empty[stage] = 0
    problems = workloads.check_corpus_report(empty, STAGES, 256, 0)
    assert len(problems) == len(STAGES) - 1
    assert "after_decontam 0, expected 6" in problems


def test_source_digest_tracks_the_package():
    assert len(workloads.source_digest()) == 64
    assert workloads.source_digest() == workloads.source_digest()


def test_exact_topk_ranks_by_cosine_not_distance():
    corpus = np.array([[1.0, 0.0], [10.0, 1.0], [0.0, 1.0], [-1.0, 0.0]])
    queries = np.array([[1.0, 0.05], [0.0, -1.0]])
    # row 1 is far away but points the same way as query 0
    assert workloads.exact_topk(corpus, queries, 2) == [{0, 1}, {0, 3}]


def test_check_topk_validates_shape_and_ids():
    from collections import namedtuple

    R = namedtuple("R", "query_id neighbor_id rank")
    good = [R(q, q + r, r) for q in (1, 2) for r in (1, 2)]
    assert workloads.check_topk(good, {1, 2}, 10, 2) == []
    bad = good[:3] + [R(2, 99, 3)]
    problems = workloads.check_topk(bad, {1, 2, 3}, 10, 2)
    assert problems[0] == "answered 2 of 3 queries"
    assert any("ranks" in p for p in problems) and any("invalid" in p for p in problems)
