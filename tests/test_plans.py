"""Physical-plan audits: the properties the 100 TB scale story depends
on, asserted on the actual optimized/executed plans (SURVEY.md §4).

These are regression guards: if a refactor turns a broadcast join into
a cartesian product or breaks parquet pushdown, correctness tests stay
green but these fail.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from mongo2mysql_spark.queries import load_all, parallel_branches
from tests.conftest import SF_DIR

REGISTRY = load_all()


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushed_to_parquet(spark):
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning(spark):
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    # scan must read only the 7 needed columns, not all 11
    readschema = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_orderkey" not in readschema and "l_suppkey" not in readschema
    assert "l_quantity" in readschema


def test_q1_partial_aggregation(spark):
    """Map-side combine: two HashAggregate levels around the shuffle."""
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2


def test_q5_broadcasts_dimensions(spark):
    df = REGISTRY["q5_regional_revenue"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semi_anti_join_strategies(spark):
    plan = physical_plan(REGISTRY["join_coverage"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_flatten_has_no_shuffle(spark):
    df = REGISTRY["etl_flatten"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    assert "Exchange" not in plan  # narrow projection end-to-end


def test_routing_is_single_projection(spark):
    from mongo2mysql_spark.operators.routing import add_table_column
    from mongo2mysql_spark.sources.parquet import load_table

    df = add_table_column(
        load_table(spark, SF_DIR, "events").withColumn("_key", F.lit("tag:1:topics")),
        "_key",
        "events",
    )
    plan = optimized_plan(df)
    assert "Join" not in plan and "Aggregate" not in plan


def test_bruteforce_broadcasts_queries(spark):
    df = REGISTRY["ann_topk_exact"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_whole_stage_codegen_active(spark):
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR)
    df.collect()  # AQE finalizes the plan only on execution
    # executedPlan renders whole-stage-codegen stages as `*(n)` markers
    plan = physical_plan(df)
    assert "*(1)" in plan and "*(2)" in plan


def test_minhash_single_shuffle_for_signatures(spark):
    from mongo2mysql_spark.functions.text import tokens, word_shingles
    from mongo2mysql_spark.operators.dedup import minhash_signature
    from mongo2mysql_spark.sources.parquet import load_table

    spark.catalog.clearCache()  # else an earlier LSH run's persisted
    # signature frame serves this plan from cache (no exchange at all)
    d = load_table(spark, SF_DIR, "documents")
    sig = minhash_signature(d, "doc_id", word_shingles(tokens(F.col("text")), 3))
    plan = physical_plan(sig)
    # one exchange for the groupBy(doc_id) — no extra shuffles
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_join_is_not_nested_loop(spark):
    """The as-of join must plan as shuffle+window (linear), never as an
    inequality BroadcastNestedLoopJoin (quadratic)."""
    df = REGISTRY["asof_join_error_purchase"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


def test_lsh_band_shuffle_is_narrow(spark):
    """The LSH candidate-pair dedup must not drag the k signature
    columns through the band join: pair dedup aggregates on (id_1,id_2)
    alone (no first(a0..) carries), and the signature frame is reused
    from cache rather than recomputed per reference.  Inspects the
    LAZY operator plan (materialize=False): the registry slot
    checkpoints its pair-bounded branches, which truncates the plan the
    driver sees."""
    from mongo2mysql_spark.functions.text import tokens, word_shingles
    from mongo2mysql_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )
    from mongo2mysql_spark.queries.dedup import BANDS, K
    from mongo2mysql_spark.sources import load_table as T

    d = T(spark, SF_DIR, "documents")
    sig = minhash_signature(d, "doc_id", word_shingles(tokens(F.col("text")), 3), k=K)
    df = lsh_candidate_pairs(
        sig, "doc_id", k=K, bands=BANDS, min_est_jaccard=0.5, materialize=False
    )
    df.collect()  # finalize AQE plan
    plan = physical_plan(df)
    spark.catalog.clearCache()  # materialize=False leaves the sig cache to us
    dedup_aggs = [
        line
        for line in plan.splitlines()
        if "HashAggregate" in line and "id_1" in line and "id_2" in line
    ]
    assert dedup_aggs, "pair-dedup aggregate missing from plan"
    assert not any("first(a" in line or "mh0" in line for line in dedup_aggs)
    assert "InMemoryTableScan" in plan  # signatures persisted, not re-derived


def test_range_join_is_equi_join_not_nested_loop(spark):
    """The range join must plan as an equi-join on the bucket id even
    with broadcast disabled (both sides big at scale) — never a
    BroadcastNestedLoopJoin/CartesianProduct on the BETWEEN predicate."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["range_join_promo_revenue"].fn(spark, SF_DIR)
        plan = physical_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_hypertable_rollup_serves_from_store_not_raw(spark):
    """The registered rollup computes through the STREAMING refresh
    (streaming/rollup.py): by serve time the raw events were consumed
    by the foreachBatch runs, so the hour/day/week legs must read the
    materialized partial store, never the raw table (the continuous-
    aggregate contract).  The sliding-DAU legs are the documented
    exception: sliding DISTINCT has no mergeable-partial store (the
    partials hold no user identities), so the exact 'sliding24h' leg
    scans events, the exact frame is re-read by the 'sliding24h_hll'
    verdict join, and the HLL sketch build scans once more — exactly
    THREE raw scans, all attributable to the DAU family, none to the
    rollup legs."""
    df = REGISTRY["events_hypertable_rollup"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    # three rollup legs over the checkpointed store materialization
    assert plan.count("Scan ExistingRDD") == 3
    # raw events scans: exact DAU leg + its reuse in the hll verdict
    # join + the hll sketch build — the rollup legs contribute zero
    assert plan.count("events.parquet") == 3


def test_connected_components_stars_are_equi_joins(spark):
    """One star round must plan as hash/sort-merge equi-joins — a
    nested-loop or cartesian here would be quadratic in the edge list."""
    from mongo2mysql_spark.operators.components import _large_star, _small_star

    e = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "a: long, b: long")
    plan = _small_star(_large_star(e))._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_topk_plan_shape(spark):
    """BM25 search must broadcast both small sides (df + stats) and
    take its top-20 as TakeOrderedAndProject, never a global sort."""
    df = REGISTRY["text_bm25_search"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") == 0


def test_pack_sequences_no_global_window(spark):
    """Sequence packing must never plan a no-partition window (the
    single-reducer shape the two-phase prefix sum exists to avoid)."""
    df = REGISTRY["corpus_pack_sequences"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    # every Window operator must carry a partition spec
    for line in plan.splitlines():
        if "Window " in line or line.strip().startswith("Window"):
            assert "__pid" in line, line


def _window_lines_missing_partition(plan: str) -> list[str]:
    """Window plan lines print as ``Window [exprs], [partSpec], [orderSpec]``
    with empty specs omitted.  Three groups → partitioned (fine).  Two
    groups → the trailing group is either a partition spec (fine) or an
    order spec — only orderings carry ASC/DESC, and an ordered window
    with no partition is the single-reducer shape.  One group → fully
    global (also single-reducer)."""
    bad = []
    for line in plan.splitlines():
        if "windowspecdefinition" not in line:
            continue
        groups = line.split("], [")
        if len(groups) >= 3:
            continue
        if len(groups) == 1 or " ASC" in groups[1] or " DESC" in groups[1]:
            bad.append(line)
    return bad


# Queries whose plan legitimately contains a broadcast nested-loop join:
# a deliberate crossJoin against a broadcast single-row/tiny frame
# (corpus stats, query vectors, the IVF centroid table).
_BNLJ_OK = {
    "text_bm25_search",
    "dedup_pair_families",
    "ann_topk_exact",
    "ann_topk_ivf",
    "agg_approx_sketches",  # single-row merged-sketch frame cross-joined in
    "embedding_stats",  # PQ ADC scan crossJoins the broadcast per-query
    # distance-table frame (operators/pq.py) — same family as ann_topk_*
    "text_term_frequency",  # domain shares crossJoin the 1-row broadcast
    # total (operators/domains.domain_sizes) — k-bounded × 1, never quadratic
    "profile_table_stats",  # heavy_keys crossJoins its 1-row totals frame
    "corpus_pack_sequences",  # systematic_weighted_select crossJoins the
    # 1-row weight total
    "resample_gapfill",  # seasonal_backtest crossJoins the 1-row span/split
    # frame (and the per-key hour grid explodes from it)
    "topk_parts_per_brand",  # association_rules crossJoins the 1-row
    # basket-count frame (operators/basket) — pair-bounded × 1
    "events_sessionize",  # the latdist branch crossJoins the 1-row
    # converter count with the 1-row exact-quantile frame (1 × 1)
    "corpus_clean_shuffle",  # lm_perplexity folds the broadcast 1-row
    # vocabulary-size frame in with a cross join (r12 lazy_vocab —
    # replaces the eager .first() the old path ran per build)
    "etl_pipeline_e2e",  # the builder's ppl gate uses the same
    # lazy-vocab 1-row cross join through pipelines.build_training_corpus
}


@pytest.mark.slow
def test_registry_sweep_no_cartesian_no_global_window(spark):
    """Every registered query must plan without a CartesianProduct and
    without an unpartitioned (single-reducer) Window — the two plan
    shapes that silently work at sf0.01 and melt down at 100 TB.
    Broadcast nested-loop joins are allowed only on the allowlisted
    queries that intentionally cross-join a broadcast scalar frame."""
    problems = []
    for name, q in sorted(REGISTRY.items()):
        if name.startswith("streaming_"):
            continue  # executing a stream per sweep entry is covered by test_streaming
        plan = physical_plan(q.fn(spark, SF_DIR))
        if "CartesianProduct" in plan:
            problems.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_OK:
            problems.append(f"{name}: BroadcastNestedLoopJoin (not allowlisted)")
        bad = _window_lines_missing_partition(plan)
        if bad:
            problems.append(f"{name}: unpartitioned Window: {bad[0].strip()[:120]}")
    assert not problems, "\n".join(problems)


def test_winnow_staging_survives_optimizer(spark):
    """The winnowing fingerprint pass stages tokens and the shingle-hash
    array as their own projections so the window-min lambda slices a
    bound column.  If CollapseProject ever re-inlines them (alias
    vanishing from the optimized plan), the md5 array is rebuilt once
    per window — an O(n^2)-per-document regression measured at 17x wall
    time.  (Asserted on the operator plan directly: the slot now serves
    build-once artifact checkpoints, so its own optimized plan is
    checkpoint scans.)"""
    from mongo2mysql_spark.operators.passages import doc_fingerprints_pos
    from mongo2mysql_spark.queries.text import WINNOW_K, WINNOW_W
    from mongo2mysql_spark.sources import load_table

    d = load_table(spark, SF_DIR, "documents")
    df = doc_fingerprints_pos(d, "doc_id", "text", WINNOW_K, WINNOW_W)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "__hs" in optimized, "hash-array staging collapsed into the consumer"
    assert "__t" in optimized, "token staging collapsed into the consumer"


@pytest.mark.slow
def test_registry_schema_stable_across_scale_factors(spark):
    """Every registered query must produce the SAME schema at sf0.001
    and sf0.01 — a schema that drifts with data scale (pivot value
    discovery, inferred JSON fields, type widening differences) would
    pass local tests and break the driver gate.  Plan-only: no query
    executes."""
    problems = []
    for name, q in sorted(REGISTRY.items()):
        if name.startswith("streaming_"):
            continue
        try:
            s1 = q.fn(spark, "/root/testdata/sf0.001").schema
            s2 = q.fn(spark, "/root/testdata/sf0.01").schema
        except Exception as exc:  # noqa: BLE001
            problems.append(f"{name}: build error {str(exc)[:100]}")
            continue
        if s1 != s2:
            problems.append(f"{name}: sf0.001={s1.simpleString()[:120]} vs sf0.01={s2.simpleString()[:120]}")
    assert not problems, "\n".join(problems)


def test_dynamic_partition_pruning_fires_on_partitioned_join(spark, tmp_path):
    """A hive-partitioned fact joined to a filtered dim must plan a
    dynamic-pruning subquery on the partition column — at 100 TB this is
    what keeps a star join from scanning every date/tenant directory
    when the dim filter only selects a few."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.sources.parquet import load_table

    orders = load_table(spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_by_status")
    orders.write.partitionBy("o_orderstatus").parquet(path)

    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("F", "final"), ("O", "open"), ("P", "pending")], "status string, label string"
    )
    j = fact.join(
        dim.filter(F.col("label") == "final"), fact.o_orderstatus == dim.status
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and the result is the pruned slice
    assert j.count() == orders.filter("o_orderstatus = 'F'").count()


def test_new_operator_plans_have_no_cartesian_or_global_window(spark):
    """Plan-shape sweep over the round's new operators: no
    CartesianProduct anywhere, no single-reducer (empty-partition)
    window, and the anomaly scorer plans exactly one exchange (the
    per-key shuffle)."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.anomaly import rolling_zscore
    from mongo2mysql_spark.operators.diffing import snapshot_diff
    from mongo2mysql_spark.operators.profile import profile_table
    from mongo2mysql_spark.operators.semdedup import semantic_dedup_pairs
    from mongo2mysql_spark.sources.parquet import load_table

    ev = load_table(spark, SF_DIR, "events")
    emb = load_table(spark, SF_DIR, "embeddings")
    docs = load_table(spark, SF_DIR, "documents")

    frames = {
        "anomaly": rolling_zscore(
            ev, ["user_id"], "ts", "value", tiebreak_cols=["event_id"]
        ),
        "semdedup_pairs": semantic_dedup_pairs(
            emb.select("vec_id", "embedding"), "vec_id", "embedding",
            kmeans_iters=1,
        ),
        "profile": profile_table(ev),
        "diff": snapshot_diff(docs.limit(400), docs, ["doc_id"]),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "Window [" not in plan or "windowspecdefinition()" not in plan, name

    anomaly_plan = frames["anomaly"]._jdf.queryExecution().executedPlan().toString()
    assert anomaly_plan.count("Exchange") == 1, anomaly_plan


def test_q19_disjunction_prefilters_both_sides(spark):
    """TPC-H Q19 shape: the OR-of-ANDs join predicate mixes columns of
    both tables, but Catalyst must still extract each side's implied
    disjunction (CNF conversion) so part AND lineitem prefilter BEFORE
    the join — without it the join processes both full tables."""
    df = REGISTRY["join_coverage"].fn(spark, SF_DIR).filter("side = 'q19'")
    plan = optimized_plan(df)
    below_join = plan.split("Join Inner", 1)[-1]
    # part side: brand disjunction pushed below the join
    assert "Brand#12" in below_join and "p_size" in below_join
    # lineitem side: quantity disjunction pushed below the join
    assert "l_quantity" in below_join
    # and no cartesian anywhere
    assert "Cartesian" not in physical_plan(df)


def test_held_releases_previous_generation(spark):
    """artifacts.held: rebuilding a slot releases the previous build's
    cache under the same name — at most one live generation per call
    site, the invariant the persist-release guard below exists to
    protect."""
    from mongo2mysql_spark.artifacts import _REGISTRY, _release, held

    name = "test.held"
    a = held(name, spark.range(10))
    a.count()
    assert a.storageLevel.useMemory
    b = held(name, spark.range(20))
    assert not a.storageLevel.useMemory  # previous generation released
    assert _REGISTRY[name][1] is b
    b.count()
    assert b.storageLevel.useMemory
    _release(name)  # cleanup for later tests
    assert not b.storageLevel.useMemory and name not in _REGISTRY


def test_parallel_branches_preserves_insertion_order_and_values():
    out = parallel_branches(
        {
            "c": lambda: 3,
            "a": lambda: 1,
            "b": lambda: 2,
        }
    )
    assert list(out) == ["c", "a", "b"]
    assert out == {"c": 3, "a": 1, "b": 2}


def test_parallel_branches_builder_error_propagates():
    def boom():
        raise ValueError("builder failed")

    with pytest.raises(ValueError, match="builder failed"):
        parallel_branches({"ok": lambda: 1, "bad": boom})


def test_parallel_branches_builders_overlap():
    # two 0.15 s sleeps complete in well under 0.3 s when threaded
    t0 = time.time()
    parallel_branches({
        "a": lambda: time.sleep(0.15),
        "b": lambda: time.sleep(0.15),
    })
    assert time.time() - t0 < 0.27


def test_parallel_branches_raises_first_error():
    # the raised error is a real builder failure even when an
    # earlier-submitted builder is still running
    def slow_ok():
        time.sleep(0.2)
        return 1

    def fast_boom():
        time.sleep(0.01)
        raise RuntimeError("fast failure")

    t0 = time.time()
    with pytest.raises(RuntimeError, match="fast failure"):
        parallel_branches({"slow": slow_ok, "boom": fast_boom})
    # the failure surfaced promptly, not after every future resolved
    # in insertion order (pool shutdown still waits for slow_ok)
    assert time.time() - t0 < 2.0


class _FakeCtx:
    applicationId = "app-test"


class _FakeSpark:
    sparkContext = _FakeCtx()


def test_artifact_builds_once_and_keeps_one_entry(tmp_path):
    from mongo2mysql_spark.artifacts import _REGISTRY, _release, artifact

    name = "test.artifact"
    calls = []

    def build():
        calls.append(1)
        return object()

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    first = artifact(name, _FakeSpark(), a, build)
    assert artifact(name, _FakeSpark(), a, build) is first
    assert len(calls) == 1
    # another sf_dir replaces the entry: one entry's blocks at a time
    second = artifact(name, _FakeSpark(), b, build)
    assert second is not first and len(calls) == 2
    assert _REGISTRY[name][1] is second

    def boom():
        raise RuntimeError("build failed")

    # a failed build raises and leaves the previous entry in place
    with pytest.raises(RuntimeError, match="build failed"):
        artifact(name, _FakeSpark(), a, boom)
    assert _REGISTRY[name][1] is second
    assert artifact(name, _FakeSpark(), b, build) is second
    _release(name)


def test_artifact_names_do_not_evict_each_other(tmp_path):
    """Each name holds its own entry: building name A (even for another
    sf_dir) leaves name B's entry served without a rebuild."""
    from mongo2mysql_spark.artifacts import _release, artifact

    a, b = "test.artifact_a", "test.artifact_b"
    sf1, sf2 = str(tmp_path / "sf1"), str(tmp_path / "sf2")
    calls = []

    def build():
        calls.append(1)
        return object()

    vb = artifact(b, _FakeSpark(), sf1, build)
    artifact(a, _FakeSpark(), sf1, build)
    artifact(a, _FakeSpark(), sf2, build)
    assert len(calls) == 3
    assert artifact(b, _FakeSpark(), sf1, build) is vb
    assert len(calls) == 3
    _release(a)
    _release(b)


def test_held_dir_replaces_previous_and_keeps_it_on_failure(tmp_path, monkeypatch):
    import os
    import tempfile

    from mongo2mysql_spark.artifacts import _REGISTRY, _release, held_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    name = "test.held_dir"
    with held_dir(name, "hd_") as first:
        open(os.path.join(first, "f"), "w").close()
    assert os.path.isdir(first) and _REGISTRY[name][1] == first
    # a failing block removes its own dir and keeps the previous one
    with pytest.raises(RuntimeError, match="write failed"):
        with held_dir(name, "hd_") as failed:
            raise RuntimeError("write failed")
    assert not os.path.exists(failed)
    assert os.path.isdir(first) and _REGISTRY[name][1] == first
    # a successful block replaces (and removes) the previous dir
    with held_dir(name, "hd_") as second:
        pass
    assert not os.path.exists(first) and os.path.isdir(second)
    _release(name)
    assert not os.path.exists(second)
    assert list(tmp_path.iterdir()) == []


def test_scratch_dir_is_removed_however_the_block_ends(tmp_path, monkeypatch):
    import os
    import tempfile

    from mongo2mysql_spark.artifacts import scratch_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with scratch_dir("sd_") as ok:
        open(os.path.join(ok, "f"), "w").close()
    assert not os.path.exists(ok)
    with pytest.raises(RuntimeError, match="build failed"):
        with scratch_dir("sd_") as failed:
            raise RuntimeError("build failed")
    assert not os.path.exists(failed)
    assert list(tmp_path.iterdir()) == []


class _FakeQuery:
    def __init__(self, finishes: bool):
        self.finishes = finishes
        self.waits = []
        self.stopped = False

    def awaitTermination(self, timeout=None):
        self.waits.append(timeout)
        return None if timeout is None else self.finishes

    def stop(self):
        self.stopped = True


def test_await_query_stops_and_raises_on_timeout():
    from mongo2mysql_spark.artifacts import await_query

    q = _FakeQuery(finishes=False)
    with pytest.raises(TimeoutError, match="rollup store refresh"):
        await_query(q, "rollup store refresh")
    assert q.waits == [300] and q.stopped


def test_await_query_finished_and_unbounded_waits_do_not_stop():
    from mongo2mysql_spark.artifacts import await_query

    q = _FakeQuery(finishes=True)
    await_query(q, "refresh", timeout=5)
    assert q.waits == [5] and not q.stopped
    q = _FakeQuery(finishes=False)
    await_query(q, "export", timeout=None)
    assert q.waits == [None] and not q.stopped


def test_versioned_time_travel_holds_one_table_dir(spark, tmp_path, monkeypatch):
    """Each call commits a fresh versioned table; the previous call's
    directory is released instead of leaking one dir per call."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    fn = REGISTRY["versioned_time_travel"].fn
    first = sorted(fn(spark, SF_DIR).collect())
    second = sorted(fn(spark, SF_DIR).collect())
    assert first == second and len(first) > 0
    left = [p for p in tmp_path.iterdir() if p.name.startswith("versioned_ttl_")]
    assert len(left) <= 1


def test_every_persist_site_has_a_release_path():
    """The round-5 bench regression's standing guard: any non-test
    module that persist()s a DataFrame must also contain an
    unpersist() — a long-lived driver session runs ~50 registry
    queries back-to-back, and never-released caches accumulated until
    the dedup family ran 2.8-4.1x slower (BENCH_r05 vs r04).  The
    release may be deferred (porter.py exposes an explicit
    Result.unpersist() API its callers invoke), so the rule is
    file-scoped; AST-based so comments mentioning persist() don't
    count."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "mongo2mysql_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        calls = {"persist": 0, "unpersist": 0}
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in calls
            ):
                calls[node.func.attr] += 1
        if calls["persist"] and not calls["unpersist"]:
            offenders.append(str(path.relative_to(pkg)))
    assert not offenders, (
        f"persist() without any unpersist() release path: {offenders}"
    )


def test_every_module_import_is_used():
    """Every top-level import in a package module (``__init__`` aside,
    whose imports re-export) is used in that module: an import that
    outlives the code that used it hides which modules depend on
    which.  AST-based, like the persist guard above."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "mongo2mysql_spark"
    unused = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text())
        names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                unused += [
                    f"{path.relative_to(pkg)}:{node.lineno} {bound}"
                    for a in node.names
                    if (bound := a.asname or a.name.split(".")[0]) not in names
                ]
    assert not unused, unused


def test_environment_reads_are_deployment_settings_only():
    """The package reads the environment only for deployment settings:
    the data path, the core count and the driver heap.  A behaviour
    switch read from the environment is a second code path no test or
    benchmark selects.  AST-based, like the persist guard above."""
    import ast
    import pathlib

    allowed = {"SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"}

    def is_environ(node) -> bool:
        return (
            isinstance(node, ast.Attribute)
            and node.attr == "environ"
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        )

    pkg = pathlib.Path(__file__).resolve().parents[1] / "mongo2mysql_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            name = None
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                f = node.func
                env_get = f.attr == "get" and is_environ(f.value)
                getenv = (
                    f.attr == "getenv"
                    and isinstance(f.value, ast.Name)
                    and f.value.id == "os"
                )
                if not (env_get or getenv):
                    continue
                name = node.args[0] if node.args else None
            elif (
                isinstance(node, ast.Subscript)
                and isinstance(node.ctx, ast.Load)
                and is_environ(node.value)
            ):
                name = node.slice
            else:
                continue
            key = name.value if isinstance(name, ast.Constant) else None
            if key not in allowed:
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert not offenders, f"environment read outside {sorted(allowed)}: {offenders}"


DRIVER_JIT_FLAGS = [
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=60000",
    "-XX:Tier4BackEdgeThreshold=400000",
]


def test_driver_jvm_runs_the_jit_policy(spark, monkeypatch):
    """The driver JVM starts with the raised tier-4 (C2) thresholds of
    ``session.build_session``, and a caller's
    ``spark.driver.extraJavaOptions`` go to the JVM beside them, not in
    their place.  The second half stubs ``getOrCreate`` to read the
    builder's options, so no second JVM is launched."""
    from pyspark.sql import SparkSession

    from mongo2mysql_spark.session import build_session

    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(mx.getRuntimeMXBean().getInputArguments())
    assert [f for f in DRIVER_JIT_FLAGS if f not in args] == [], args

    built = []

    def get_or_create(builder):
        built.append(dict(builder._options))
        return spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    caller = "-XX:-UsePerfData -Djava.io.tmpdir=/tmp/x"
    assert build_session(extra_conf={"spark.driver.extraJavaOptions": caller}) is spark
    (options,) = built
    assert options["spark.driver.defaultJavaOptions"].split() == DRIVER_JIT_FLAGS
    assert options["spark.driver.extraJavaOptions"] == caller


def _package_calls(names: set[str]):
    """(module path, call node) for every call in the package whose
    callee (plain name or attribute) is in ``names``."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "mongo2mysql_spark"
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            callee = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if callee in names:
                yield path.relative_to(pkg), node


def test_scratch_dirs_and_stream_waits_only_in_artifacts():
    """Scratch directories and streaming-query waits have one lifecycle
    (artifacts.scratch_dir / held_dir / await_query): a bare mkdtemp
    leaks its dir when the build fails, and a bare
    awaitTermination(timeout) ignores the False a timeout returns."""
    offenders = [
        f"{path}:{node.lineno}"
        for path, node in _package_calls(
            {"mkdtemp", "TemporaryDirectory", "awaitTermination"}
        )
        if str(path) != "artifacts.py"
    ]
    assert not offenders, offenders


def test_artifact_names_are_unique_literals():
    """Every artifact / held / held_dir call names its entry with a
    string literal used at no other site: two sites sharing a name
    would silently serve or release each other's entry."""
    import ast

    seen: dict[str, str] = {}
    problems = []
    for path, node in _package_calls({"artifact", "held", "held_dir"}):
        where = f"{path}:{node.lineno}"
        arg = node.args[0] if node.args else None
        if not (isinstance(arg, ast.Constant) and isinstance(arg.value, str)):
            problems.append(f"{where}: name is not a string literal")
        elif arg.value in seen:
            problems.append(f"{where}: {arg.value!r} also used at {seen[arg.value]}")
        else:
            seen[arg.value] = where
    assert not problems, problems
    assert len(seen) >= 30  # the walk found the call sites


def test_centroid_assignment_is_aggregate_not_window(spark):
    """Nearest-centroid assignment (IVF build side, prototype pruning)
    must plan as a max_by AGGREGATE with map-side partials, never as a
    row_number window over partitionBy(id) — the window shuffles all C
    candidate copies of the corpus on the id key; the aggregate ships
    one partial row per (partition, id) (VERDICT r6 #2)."""
    from mongo2mysql_spark.operators.pruning import prune_prototypes
    from mongo2mysql_spark.operators.similarity import assign_centroids
    from mongo2mysql_spark.sources.parquet import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    cents = emb.filter(F.col("vec_id") % 97 == 0)

    assigned = assign_centroids(emb, cents, "vec_id", "embedding")
    plan = physical_plan(assigned)
    assert "Window" not in plan, plan
    assert "max_by" in plan
    # partial + final aggregate pair, one shuffle between them (the
    # other Exchange is the centroid BroadcastExchange, not a shuffle)
    assert plan.count("Exchange hashpartitioning") == 1, plan

    pruned = prune_prototypes(emb, "vec_id", "embedding", 97, 8)
    # the ASSIGNMENT stage must be window-free; the per-cluster rank
    # that follows is a legitimate partitioned window, so assert the
    # assignment subplan via the aggregate's presence and that the only
    # windows are the cluster-key ones
    pplan = physical_plan(pruned)
    assert "max_by" in pplan
    for line in pplan.splitlines():
        if "windowspecdefinition" in line:
            assert "__cid" in line, line

    # query-side nprobe>1 keeps the ranked-window contract (bounded side)
    probes = assign_centroids(emb.limit(20), cents, "vec_id", "embedding", nprobe=3)
    assert "_probe" in probes.columns


# Lazy checkpoints left in the package, per module.  A lazy checkpoint
# lets a thread Spark owns (a broadcast exchange, an AQE stage) do the
# checkpoint, the setting of a driver-JVM deadlock seen in
# events_sessionize.  The list may only shrink: a module that drops a
# site lowers its count here, and no module gains one.
LAZY_CHECKPOINTS = {
    "operators/behavior.py": 2,
    "operators/forecast.py": 1,
    "operators/labelprop.py": 1,
    "operators/lm.py": 1,
    "operators/selection.py": 4,
}


def test_lazy_checkpoints_only_shrink():
    import ast
    from collections import Counter

    found = Counter(
        str(path)
        for path, node in _package_calls({"localCheckpoint"})
        if any(
            k.arg == "eager" and isinstance(k.value, ast.Constant) and k.value.value is False
            for k in node.keywords
        )
    )
    assert dict(found) == LAZY_CHECKPOINTS


# Top-level package defs that no entry point reaches, each kept for the
# reason given.  The list may only shrink: deleting a def (with the
# tests that exercise only it) drops its entry, and no new unreached
# def may join.
UNREACHED_DEFS = {
    # references that a test checks a reached def against
    "operators/anomaly.py:rolling_zscore": "float twin of rolling_frame_stats in test_rolling_frame_stats_agrees_with_float_zscore",
    "operators/bloom.py:bloom_probe": "probe-then-join composition that test_hit_counts_match_probe_join_composition checks bloom_hit_counts against",
    "operators/joinexec.py:chain_plan_tree": "the DP's chain tree that test_execute_chain_plan_follows_dp_structure checks execute_chain_plan's plan against",
    "operators/joinexec.py:snowflake_plan_tree": "the DP's snowflake tree that test_execute_snowflake_plan_structure_and_answer checks execute_snowflake_plan's plan against",
    "operators/joinexec.py:graph_plan_tree": "the DP's join tree that test_execute_graph_plan_cycle_edge_and_structure checks execute_graph_plan's plan against",
    "operators/pq.py:_l2sq_seq": "sequential fold that test_expanded_distance_bit_equals_fold checks the codegen expansion against",
    "operators/pq.py:_sub": "helper of _l2sq_seq",
    "operators/pq.py:_dists_to_cents": "unexpanded distance form in test_expanded_distance_bit_equals_fold",
    "operators/priority.py:priority_sample": "one-shot sample that test_priority checks streaming/priostore's fold against",
    "operators/sequence.py:add_num": "window form of _num that test_numbering checks Numbering against",
    "operators/rollup.py:hypertable_rollup": "one-shot rollup that the streaming and incremental refresh tests compare with",
    "operators/zorder.py:hilbert_ref": "scalar Hilbert curve that test_with_hilbert_matches_reference_and_duckdb checks with_hilbert against",
    "functions/vector.py:dequantize_embedding": "inverse of quantize_embedding in test_embedding_quantization_roundtrip",
    "plans/lattice.py:guess_db_type": "scalar guessDbType (Porter.php:358-396) that test_guess_db_type checks plans.infer against",
    "plans/lattice.py:ObjectIdStr": "the ObjectId input of guess_db_type in test_guess_db_type",
    # documented in README's prose
    "operators/zorder.py:cluster_by_z": "README 'Physical layout & runtime pruning' documents it",
    # fixtures that build a reached def's inputs
    "operators/kmv.py:kmv_sketch": "test_kmv builds the sketches that kmv_stats/kmv_union/kmv_intersect_est read",
    "operators/pq.py:pq_residual_encode": "the custom encode of test_pq_store_custom_encode_serves_residual_codes",
}


def _unreached_package_code() -> set[str]:
    """Package modules no entry point imports, and top-level package
    defs (``module:name``) no entry point reaches.

    Roots: the ``@register``ed slot builders, the public defs of
    ``cli.py``, ``pipelines.py``, ``sync.py`` and ``porter.py``, every
    name (string constants included: perfbench patches layers by name)
    in ``bench.py``, ``__spark_entry__.py`` and ``perfbench/*.py``, and
    the module-level code of each imported module.  Reached code
    reaches a def by naming it (a ``Name``, an ``Attribute`` or an
    import alias) and a module by importing it, to a fixed point.
    Matching is by name, so a name reused anywhere counts as reached;
    docstrings, tests and ``tools/`` reach nothing."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "mongo2mysql_spark"
    def_types = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    modules = {str(p.relative_to(pkg)): ast.parse(p.read_text()) for p in sorted(pkg.rglob("*.py"))}
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    for rel, tree in modules.items():
        for node in tree.body:
            if isinstance(node, def_types):
                defs.setdefault(node.name, []).append((f"{rel}:{node.name}", node))

    def refs(node, strings: bool) -> tuple[set[str], set[str]]:
        """(names, imported names) that ``node`` holds."""
        names, imported = set(), set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
            elif isinstance(n, ast.alias):
                imported.update(n.name.split("."))
            elif isinstance(n, ast.ImportFrom) and n.module:
                imported.update(n.module.split("."))
            elif strings and isinstance(n, ast.Constant) and isinstance(n.value, str):
                names.update(n.value.split("."))
        return names | imported, imported

    def module_code(tree) -> list:
        """What importing the module runs: its statements other than
        defs, and the defs' decorators."""
        return [
            part
            for n in tree.body
            for part in (n.decorator_list if isinstance(n, def_types) else [n])
        ]

    entry_modules = {"cli.py", "pipelines.py", "sync.py", "porter.py"}
    todo = [
        (ast.Name(node.name), False)
        for rel, tree in modules.items()
        for node in tree.body
        if isinstance(node, def_types)
        and (
            any(
                isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
                for d in node.decorator_list
            )
            or (rel in entry_modules and not node.name.startswith("_"))
        )
    ]
    entry_files = [root / "bench.py", root / "__spark_entry__.py", *sorted((root / "perfbench").glob("*.py"))]
    todo += [(ast.parse(p.read_text()), True) for p in entry_files]
    imported_mods = {rel for rel in modules if rel in entry_modules or rel.endswith("__init__.py")}
    todo += [(n, False) for rel in imported_mods for n in module_code(modules[rel])]
    reached: set[str] = set()
    while todo:
        names, imported = refs(*todo.pop())
        for rel, tree in modules.items():
            if rel not in imported_mods and pathlib.PurePath(rel).stem in imported:
                imported_mods.add(rel)
                todo += [(n, False) for n in module_code(tree)]
        for name in names - reached:
            reached.add(name)
            todo += [(node, False) for _, node in defs.get(name, [])]
    unreached = {where for name, ds in defs.items() if name not in reached for where, _ in ds}
    return unreached | (set(modules) - imported_mods)


def test_every_package_def_is_reached_or_kept_for_a_reason():
    """Code no entry point reaches is deleted, with the tests that
    exercise only it, unless ``UNREACHED_DEFS`` says why it stays."""
    unreached = _unreached_package_code()
    assert sorted(unreached - set(UNREACHED_DEFS)) == [], "unreached: delete it or list it"
    assert sorted(set(UNREACHED_DEFS) - unreached) == [], "reached or gone: drop the entry"
