"""Streaming-specific behavior beyond the oracle gate: stream joins,
checkpoint recovery, the incremental stores, and watermark wiring."""

from __future__ import annotations

import os
import sqlite3

import pytest

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from mongo2mysql_spark.streaming.pipeline import (
    run_to_memory,
    stream_events,
    stream_static_enrich,
    stream_stream_interval_join,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


def test_run_to_memory_restores_conf(spark, tmp_path):
    """The shuffle-partitions override lasts for one call: the session
    conf is back to its value after each call, and after a query that
    fails to start."""
    df = spark.range(20).selectExpr("id", "cast(id % 3 as long) as k")
    src = str(tmp_path / "in")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    agg = stream.groupBy("k").count()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    for n in (3, 5):
        got = run_to_memory(agg, "complete", n)
        assert sorted((r["k"], r["count"]) for r in got.collect()) == [
            (0, 7), (1, 7), (2, 6)
        ]
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # complete mode needs a streaming aggregation: start() raises
    with pytest.raises(AnalysisException, match="STREAMING_OUTPUT_MODE"):
        run_to_memory(stream, "complete", 7)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_streaming_watermark_present(spark):
    agg = tumbling_counts(stream_events(spark, SF), watermark="2 hours")
    assert "watermark" in agg._jdf.queryExecution().analyzed().toString().lower()


def test_stateful_first_n_per_key(spark):
    """Custom stateful operator (applyInPandasWithState): at most N rows
    admitted per key; on a bounded single-batch stream this equals the
    batch row_number()<=N per key."""
    from pyspark.sql import Window as W

    from mongo2mysql_spark.sources import load_table
    from mongo2mysql_spark.streaming.pipeline import run_to_memory, stream_events
    from mongo2mysql_spark.streaming.stateful import streaming_first_n_per_key
    from tests.conftest import SF_DIR

    stream = stream_events(spark, SF_DIR).select("user_id", "ts", "event_id")
    got = run_to_memory(
        streaming_first_n_per_key(stream, ["user_id"], ["ts", "event_id"], 3),
        mode="append",
    )
    batch = load_table(spark, SF_DIR, "events").select("user_id", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    want = batch.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3).drop("rn")
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows


def test_stream_static_enrich_matches_batch_join(spark):
    """Stream-static enrichment equals the batch broadcast join, and the
    streaming plan carries NO state (stateless per-batch join)."""
    from mongo2mysql_spark.sources.parquet import load_table

    cust = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream_static_enrich(stream_events(spark, SF), cust, "user_id", ["c_mktsegment"])
    got = run_to_memory(
        enriched.groupBy("c_mktsegment").count(), mode="complete"
    ).collect()
    batch = (
        load_table(spark, SF, "events")
        .join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment")
        .count()
        .collect()
    )
    assert sorted(map(repr, got)) == sorted(map(repr, batch))


@pytest.mark.slow
def test_stream_stream_interval_join_matches_batch(spark):
    """Bounded stream-stream interval join equals the batch interval
    join, and both inputs are watermarked (state eviction wired)."""
    from mongo2mysql_spark.sources.parquet import load_table

    def split(df, etype, ucol, tcol, icol):
        return df.filter(F.col("event_type") == etype).select(
            F.col("user_id").alias(ucol),
            F.col("ts").alias(tcol),
            F.col("event_id").alias(icol),
        )

    cond = "v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + interval 1 hour"
    stream = stream_stream_interval_join(
        split(stream_events(spark, SF), "view", "v_user", "v_ts", "vid"),
        split(stream_events(spark, SF), "purchase", "p_user", "p_ts", "pid"),
        cond,
        "v_ts",
        "p_ts",
    )
    assert (
        stream._jdf.queryExecution().analyzed().toString().lower().count("watermark") >= 2
    )
    got = run_to_memory(stream, mode="append").select("vid", "pid")
    ev = load_table(spark, SF, "events")
    want = (
        split(ev, "view", "v_user", "v_ts", "vid")
        .join(split(ev, "purchase", "p_user", "p_ts", "pid"), F.expr(cond))
        .select("vid", "pid")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restart semantics: a checkpointed stream picks up only NEW files
    after a stop/restart, and the REPLACE-keyed sink makes the final
    state equal the batch computation with no double counting — even
    across a third restart with no new data."""
    import sqlite3

    from mongo2mysql_spark.sources.jdbc import upsert_sql

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    db = str(tmp_path / "t.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE counts (k TEXT PRIMARY KEY, n INT)")
    conn.commit()
    conn.close()

    schema = "k string, v long"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def run_stream():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        agg = stream.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        sql = upsert_sql("counts", ["k", "n"])

        def sink(batch_df, _epoch, _db=db, _sql=sql):
            rows = [tuple(r) for r in batch_df.collect()]
            c = sqlite3.connect(_db)
            c.executemany(_sql, rows)
            c.commit()
            c.close()

        q = (
            agg.writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write_batch("b1", [("a", 1), ("a", 2), ("b", 3)])
    run_stream()
    write_batch("b2", [("a", 4), ("c", 5)])
    run_stream()  # restart from checkpoint: must see ONLY b2 as new
    run_stream()  # restart with nothing new: must change nothing

    conn = sqlite3.connect(db)
    got = dict(conn.execute("SELECT k, n FROM counts").fetchall())
    conn.close()
    assert got == {"a": 3, "b": 1, "c": 1}


def test_streaming_rollup_refresh_equals_one_shot(spark, tmp_path):
    """Two stream runs (disjoint halves of events) against one partial
    store must serve hour/day/week levels IDENTICAL to the one-shot
    batch rollup over all events — the continuous-aggregate contract:
    raw history never rescanned, decimal partials merge bit-exactly,
    and the store survives stream restarts."""
    from mongo2mysql_spark.operators.rollup import (
        hypertable_rollup,
        rollup_levels_from_partials,
    )
    from mongo2mysql_spark.sources.parquet import load_table
    from mongo2mysql_spark.streaming.pipeline import stream_events
    from mongo2mysql_spark.streaming.rollup import (
        read_partial_store,
        streaming_rollup_refresh,
    )

    store = str(tmp_path / "store")
    for half, ck in ((0, "ck0"), (1, "ck1")):
        q = streaming_rollup_refresh(
            stream_events(spark, SF).filter(F.col("event_id") % 2 == half),
            store, "ts", ["event_type"], "value",
            checkpoint_dir=str(tmp_path / ck),
        )
        q.awaitTermination(120)
    served = rollup_levels_from_partials(
        read_partial_store(spark, store), ["event_type"]
    ).collect()
    batch = hypertable_rollup(
        load_table(spark, SF, "events"), "ts", ["event_type"], F.col("value")
    ).collect()
    key = lambda r: (r["granularity"], r["bucket"], r["event_type"])  # noqa: E731
    assert {key(r): (r["n_rows"], r["sum_val"]) for r in served} == {
        key(r): (r["n_rows"], r["sum_val"]) for r in batch
    }
    # idempotent replay: re-running half 1 with a FRESH checkpoint would
    # double-count (no dedup by design — checkpoint owns exactly-once);
    # with the SAME checkpoint the batch is not re-delivered
    q = streaming_rollup_refresh(
        stream_events(spark, SF).filter(F.col("event_id") % 2 == 1),
        store, "ts", ["event_type"], "value",
        checkpoint_dir=str(tmp_path / "ck1"),
    )
    q.awaitTermination(120)
    again = rollup_levels_from_partials(
        read_partial_store(spark, store), ["event_type"]
    ).collect()
    assert {key(r): (r["n_rows"], r["sum_val"]) for r in again} == {
        key(r): (r["n_rows"], r["sum_val"]) for r in batch
    }


def test_rollup_refresh_continuous_trigger(spark, tmp_path):
    """The ADVICE-r4 trigger parameter: with processingTime the sink
    runs as a LIVE continuous refresh (not a drain-and-stop catch-up).
    The query must stay active across trigger fires, absorb the backlog
    into the manifest store, and serve the same totals as a one-shot
    aggregation once stopped."""
    import time

    from mongo2mysql_spark.sources.parquet import load_table
    from mongo2mysql_spark.streaming.pipeline import stream_events
    from mongo2mysql_spark.streaming.rollup import (
        read_partial_store,
        streaming_rollup_refresh,
    )

    store = str(tmp_path / "store")
    q = streaming_rollup_refresh(
        stream_events(spark, SF).filter(F.col("event_id") % 10 == 0),
        store, "ts", ["event_type"], "value",
        checkpoint_dir=str(tmp_path / "ck"),
        trigger={"processingTime": "500 milliseconds"},
    )
    try:
        want = (
            load_table(spark, SF, "events")
            .filter(F.col("event_id") % 10 == 0).count()
        )
        deadline = time.time() + 90
        got = -1
        while time.time() < deadline:
            store_df = read_partial_store(spark, store)
            if store_df is not None:
                got = store_df.agg(F.sum("__n")).first()[0]
                if got == want:
                    break
            time.sleep(1)
        # a processingTime query keeps running after the backlog drains
        assert q.isActive
        assert got == want
    finally:
        q.stop()


def test_rollup_store_epoch_replay_and_crash_safety(spark, tmp_path):
    """The manifest store's exactly-once contract: a replayed
    (writer, epoch) pair is a no-op (foreachBatch is at-least-once — a
    crash between manifest publish and stream-epoch commit re-delivers
    the batch), a DIFFERENT writer's epoch 0 applies (fresh checkpoint
    = new epoch lineage), and a torn refresh (store dir written,
    manifest not yet published) leaves the previous store serving."""
    import os

    from mongo2mysql_spark.operators.rollup import rollup_levels_from_partials
    from mongo2mysql_spark.sources.parquet import load_table
    from mongo2mysql_spark.streaming.rollup import (
        _read_manifest,
        read_partial_store,
        refresh_partial_store,
    )

    store = str(tmp_path / "store")
    ev = load_table(spark, SF, "events").limit(500).localCheckpoint()

    def total():  # __n = per-(bucket, group) row count in the partial store
        return (
            read_partial_store(spark, store)
            .agg(F.sum("__n").alias("n")).first()["n"]
        )

    assert refresh_partial_store(
        ev, store, "ts", ["event_type"], "value", writer="w1", epoch=0
    )
    n1 = total()
    # replay of the SAME (writer, epoch): skipped, store unchanged
    assert not refresh_partial_store(
        ev, store, "ts", ["event_type"], "value", writer="w1", epoch=0
    )
    assert total() == n1
    # a new writer's epoch 0 (fresh checkpoint lineage) must apply
    assert refresh_partial_store(
        ev, store, "ts", ["event_type"], "value", writer="w2", epoch=0
    )
    assert total() == 2 * n1
    # torn refresh: an orphan store dir without a manifest publish —
    # readers still resolve the last published store, and the next
    # successful refresh reclaims the orphan
    manifest_before = _read_manifest(store)
    orphan = os.path.join(store, "stores", "deadbeef0000")
    read_partial_store(spark, store).write.parquet(orphan)
    assert _read_manifest(store) == manifest_before
    assert total() == 2 * n1
    assert refresh_partial_store(
        ev, store, "ts", ["event_type"], "value", writer="w2", epoch=1
    )
    assert total() == 3 * n1
    assert not os.path.isdir(orphan)
    # levels still serve from the merged store
    assert rollup_levels_from_partials(
        read_partial_store(spark, store), ["event_type"]
    ).count() > 0


def test_streaming_bloom_seenset_equals_batch_build(spark, tmp_path):
    """Streaming Bloom seen-set maintenance: two stream runs over
    disjoint halves of the events keys must leave the manifest store
    holding EXACTLY the filter a one-shot bloom_build produces over all
    keys; a same-checkpoint replay changes nothing (union idempotence +
    epoch guard)."""
    from mongo2mysql_spark.operators.bloom import bloom_build
    from mongo2mysql_spark.streaming.pipeline import stream_events
    from mongo2mysql_spark.streaming.seenset import (
        read_bloom_store,
        streaming_bloom_refresh,
    )

    store = str(tmp_path / "bloom")
    for half, ck in ((0, "ck0"), (1, "ck1")):
        q = streaming_bloom_refresh(
            stream_events(spark, SF)
            .filter(F.col("event_id") % 2 == half)
            .select(F.col("user_id").alias("k")),
            store,
            "k",
            checkpoint_dir=str(tmp_path / ck),
        )
        q.awaitTermination(120)

    served = {r.pos for r in read_bloom_store(spark, store).collect()}
    batch = {
        r.pos
        for r in bloom_build(
            stream_events(spark, SF).sparkSession.read.parquet(  # batch read
                f"{SF}/events.parquet"
            ).select(F.col("user_id").alias("k")),
            "k",
        ).collect()
    }
    assert served == batch and len(served) > 0

    # replay half 1 from the same checkpoint: store must not change
    q = streaming_bloom_refresh(
        stream_events(spark, SF)
        .filter(F.col("event_id") % 2 == 1)
        .select(F.col("user_id").alias("k")),
        store,
        "k",
        checkpoint_dir=str(tmp_path / "ck1"),
    )
    q.awaitTermination(120)
    again = {r.pos for r in read_bloom_store(spark, store).collect()}
    assert again == batch


@pytest.mark.slow
def test_streaming_pq_store_equals_batch_encode(spark, tmp_path):
    """Streaming PQ code-store maintenance: two stream runs over
    disjoint halves of the embeddings must leave the manifest store
    holding EXACTLY the code table a one-shot pq_encode produces over
    the whole corpus; searches over the store are indistinguishable
    from searches over a fresh encode; a same-checkpoint replay changes
    nothing (epoch guard); a re-ingest upserts by id."""
    import shutil

    from mongo2mysql_spark.operators.pq import (
        collect_codebook,
        pq_adc_topk,
        pq_encode,
    )
    from mongo2mysql_spark.streaming.pqstore import (
        read_pq_store,
        refresh_pq_store,
        streaming_pq_refresh,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = collect_codebook(
        emb, "vec_id", "embedding", m_sub=8, stride=31, k_max=16,
        normalize=True,
    )
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{SF}/embeddings.parquet", src / "part0.parquet")
    store = str(tmp_path / "pq")
    for half, ck in ((0, "ck0"), (1, "ck1")):
        q = streaming_pq_refresh(
            spark.readStream.schema(emb.schema)
            .parquet(str(src))
            .filter(F.col("vec_id") % 2 == half),
            store,
            "vec_id",
            "embedding",
            cb,
            checkpoint_dir=str(tmp_path / ck),
        )
        q.awaitTermination(120)

    served = {
        r.vec_id: list(r.codes) for r in read_pq_store(spark, store).collect()
    }
    batch = {
        r.vec_id: list(r.codes)
        for r in pq_encode(
            emb, "vec_id", "embedding", cb, normalize=True
        ).collect()
    }
    assert served == batch and len(served) == 500

    # search over the store == search over a fresh encode
    q5 = emb.filter(F.col("vec_id") < 3)
    res_store = sorted(
        map(
            tuple,
            pq_adc_topk(
                read_pq_store(spark, store), q5, emb, "vec_id", "embedding",
                cb, k=5, normalize=True,
            ).collect(),
        )
    )
    res_fresh = sorted(
        map(
            tuple,
            pq_adc_topk(
                pq_encode(emb, "vec_id", "embedding", cb, normalize=True),
                q5, emb, "vec_id", "embedding", cb, k=5, normalize=True,
            ).collect(),
        )
    )
    assert res_store == res_fresh

    # replay half 1 from the same checkpoint: store must not change
    q = streaming_pq_refresh(
        spark.readStream.schema(emb.schema)
        .parquet(str(src))
        .filter(F.col("vec_id") % 2 == 1),
        store,
        "vec_id",
        "embedding",
        cb,
        checkpoint_dir=str(tmp_path / "ck1"),
    )
    q.awaitTermination(120)
    again = {
        r.vec_id: list(r.codes) for r in read_pq_store(spark, store).collect()
    }
    assert again == batch

    # re-ingesting corrected vectors upserts by id (reversed arrays
    # change the codes; everyone else keeps theirs)
    corrected = emb.filter(F.col("vec_id") < 3).select(
        "vec_id", F.reverse(F.col("embedding")).alias("embedding")
    )
    assert refresh_pq_store(corrected, store, "vec_id", "embedding", cb)
    after = {
        r.vec_id: list(r.codes) for r in read_pq_store(spark, store).collect()
    }
    want_new = {
        r.vec_id: list(r.codes)
        for r in pq_encode(
            corrected, "vec_id", "embedding", cb, normalize=True
        ).collect()
    }
    assert len(after) == 500
    for vid, codes in after.items():
        assert codes == (want_new[vid] if vid < 3 else batch[vid])


def test_pq_store_refresh_is_append_only_and_compacts(spark, tmp_path):
    """VERDICT r6 #1: a refresh must never read or rewrite existing
    segments — it writes ONE new delta dir plus the manifest rename,
    so ingest I/O is O(batch) not O(index).  compact_pq_store folds the
    chain into a lone base without changing the resolved table."""
    import json
    import os

    from mongo2mysql_spark.operators.pq import collect_codebook, pq_encode
    from mongo2mysql_spark.streaming.pqstore import (
        compact_pq_store,
        read_pq_store,
        refresh_pq_store,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = collect_codebook(
        emb, "vec_id", "embedding", m_sub=8, stride=31, k_max=16,
        normalize=True,
    )
    store = str(tmp_path / "pq")

    def snapshot() -> dict[str, tuple]:
        out = {}
        for root, _dirs, files in os.walk(os.path.join(store, "stores")):
            for f in files:
                p = os.path.join(root, f)
                out[p] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    assert refresh_pq_store(
        emb.filter(F.col("vec_id") % 2 == 0), store, "vec_id", "embedding", cb
    )
    before = snapshot()
    man1 = json.load(open(os.path.join(store, "MANIFEST.json")))
    assert len(man1["deltas"]) == 1 and man1["base"] is None

    batch = emb.filter(F.col("vec_id") % 2 == 1)
    assert refresh_pq_store(batch, store, "vec_id", "embedding", cb)
    after = snapshot()
    # every pre-existing file byte-stable and still present (mtime and
    # size unchanged — nothing was rewritten), new files form exactly
    # one new delta directory of batch-sized rows
    for p, meta in before.items():
        assert after[p] == meta, p
    new_dirs = {
        os.path.dirname(p) for p in after if p not in before
    }
    assert len(new_dirs) == 1
    man2 = json.load(open(os.path.join(store, "MANIFEST.json")))
    assert len(man2["deltas"]) == 2 and man2["deltas"][0] == man1["deltas"][0]
    delta_rows = spark.read.parquet(new_dirs.pop()).count()
    assert delta_rows == batch.count()

    resolved = {
        r.vec_id: list(r.codes) for r in read_pq_store(spark, store).collect()
    }
    want = {
        r.vec_id: list(r.codes)
        for r in pq_encode(emb, "vec_id", "embedding", cb, normalize=True).collect()
    }
    assert resolved == want

    # merge-on-read resolution is an aggregate, not a window/join
    plan = read_pq_store(spark, store)._jdf.queryExecution().executedPlan().toString()
    assert "max_by" in plan and "Window" not in plan and "Join" not in plan

    assert compact_pq_store(spark, store)
    man3 = json.load(open(os.path.join(store, "MANIFEST.json")))
    assert man3["deltas"] == [] and man3["base"]
    compacted = {
        r.vec_id: list(r.codes) for r in read_pq_store(spark, store).collect()
    }
    assert compacted == want
    # nothing further to compact
    assert not compact_pq_store(spark, store)


def test_pq_store_custom_encode_serves_residual_codes(spark, tmp_path):
    """The store must be encode-agnostic: with encode= supplying IVFADC
    residual codes (extra centroid_id column riding the segment), any
    refresh sequence resolves to the batch residual encode of the
    union, and compaction preserves it."""
    from mongo2mysql_spark.operators.pq import (
        build_pq_residual_index,
        pq_residual_encode,
    )
    from mongo2mysql_spark.streaming.pqstore import (
        compact_pq_store,
        read_pq_store,
        refresh_pq_store,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cells, cb_res, want_codes = build_pq_residual_index(
        emb, "vec_id", "embedding", m_sub=8,
        centroid_stride=97, code_stride=31, k_max=16, train=False,
    )
    centroids = emb.filter(F.col("vec_id") % 97 == 0)

    def encode(batch):
        # frozen index state: fixed centroid frame + cells + codebook
        return pq_residual_encode(
            batch, "vec_id", "embedding", centroids, cells, cb_res
        )

    store = str(tmp_path / "res_store")
    for half in (0, 1):
        assert refresh_pq_store(
            emb.filter(F.col("vec_id") % 2 == half),
            store, "vec_id", "embedding", cb_res, encode=encode,
        )

    def as_map(df):
        return {
            r.vec_id: (r.centroid_id, list(r.codes)) for r in df.collect()
        }

    want = as_map(want_codes)
    got = as_map(read_pq_store(spark, store))
    assert got == want
    assert compact_pq_store(spark, store)
    assert as_map(read_pq_store(spark, store)) == want


def _pq_fixture(spark, tmp_path, n_refresh=2):
    """Store seeded with ``n_refresh`` disjoint delta refreshes; returns
    (emb, cb, store_path, batches)."""
    from mongo2mysql_spark.operators.pq import collect_codebook
    from mongo2mysql_spark.streaming.pqstore import refresh_pq_store

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = collect_codebook(
        emb, "vec_id", "embedding", m_sub=8, stride=31, k_max=16,
        normalize=True,
    )
    store = str(tmp_path / "pq")
    batches = [
        emb.filter(F.col("vec_id") % n_refresh == i) for i in range(n_refresh)
    ]
    for b in batches:
        assert refresh_pq_store(b, store, "vec_id", "embedding", cb)
    return emb, cb, store, batches


def test_pq_store_compaction_keeps_concurrent_delta(spark, tmp_path):
    """The r8 ADVICE race: a delta published BETWEEN compaction's
    manifest snapshot and its publish must survive — carried forward on
    top of the new base, its rows served, its dir never reclaimed.  The
    old compactor silently dropped the delta from the manifest and
    deleted its directory (losing a committed, checkpointed batch)."""
    import json
    import os

    from mongo2mysql_spark.operators.pq import pq_encode
    from mongo2mysql_spark.streaming.pqstore import (
        compact_pq_store,
        read_pq_store,
        refresh_pq_store,
    )

    emb, cb, store, _ = _pq_fixture(spark, tmp_path, n_refresh=3)
    # drop vec_id%3==2 rows from the seeded store: re-ingest them as the
    # racing delta so its rows are DISTINGUISHABLE in the resolved read
    man = json.load(open(os.path.join(store, "MANIFEST.json")))
    racing = emb.filter(F.col("vec_id") % 3 == 2)

    def inject():
        assert refresh_pq_store(racing, store, "vec_id", "embedding", cb)

    assert compact_pq_store(spark, store, _pre_publish=inject)
    man2 = json.load(open(os.path.join(store, "MANIFEST.json")))
    # new base + exactly the carried racing delta
    assert man2["base"] and man2["base"] not in (man["deltas"] + [man["base"]])
    assert len(man2["deltas"]) == 1
    carried = man2["deltas"][0]
    assert os.path.isdir(os.path.join(store, carried)), "racing delta reclaimed"
    served = {
        r.vec_id: list(r.codes) for r in read_pq_store(spark, store).collect()
    }
    want = {
        r.vec_id: list(r.codes)
        for r in pq_encode(emb, "vec_id", "embedding", cb, normalize=True).collect()
    }
    assert served == want


def test_pq_store_compaction_loses_to_concurrent_compactor(spark, tmp_path):
    """Two compactors racing: the second to publish detects the base
    changed underneath it, discards its own output dir and returns
    False — the store stays correct and nothing is reclaimed twice."""
    from mongo2mysql_spark.operators.pq import pq_encode
    from mongo2mysql_spark.streaming.pqstore import (
        compact_pq_store,
        read_pq_store,
    )

    emb, cb, store, _ = _pq_fixture(spark, tmp_path)

    def rival():
        assert compact_pq_store(spark, store)

    assert not compact_pq_store(spark, store, _pre_publish=rival)
    served = {
        r.vec_id: list(r.codes) for r in read_pq_store(spark, store).collect()
    }
    want = {
        r.vec_id: list(r.codes)
        for r in pq_encode(emb, "vec_id", "embedding", cb, normalize=True).collect()
    }
    assert served == want


def test_pq_store_reads_legacy_single_dir_manifest(spark, tmp_path):
    """A store written under the legacy ``{"store": rel}`` manifest
    (the r6 format / streaming-rollup shape) must read as its full
    content, refresh as base+delta, and never be orphaned — the r8
    ADVICE data-loss path was reading it as empty.  An unrecognizable
    manifest raises instead of reading as empty."""
    import json
    import os

    import pytest as _pytest

    from mongo2mysql_spark.operators.pq import collect_codebook, pq_encode
    from mongo2mysql_spark.streaming.pqstore import (
        compact_pq_store,
        read_pq_store,
        refresh_pq_store,
    )
    from mongo2mysql_spark.streaming.rollup import _publish_manifest

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = collect_codebook(
        emb, "vec_id", "embedding", m_sub=8, stride=31, k_max=16,
        normalize=True,
    )
    store = str(tmp_path / "legacy")
    old_half = pq_encode(
        emb.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding", cb,
        normalize=True,
    )
    old_half.write.parquet(os.path.join(store, "stores", "gen0"))
    _publish_manifest(
        store,
        {"store": "stores/gen0", "previous": None,
         "writer": None, "last_epoch": None},
    )
    # read: full legacy content, not empty
    assert read_pq_store(spark, store).count() == old_half.count()
    # refresh: legacy segment becomes the base, not an orphan
    assert refresh_pq_store(
        emb.filter(F.col("vec_id") % 2 == 1), store, "vec_id", "embedding", cb
    )
    man = json.load(open(os.path.join(store, "MANIFEST.json")))
    assert man["base"] == "stores/gen0" and len(man["deltas"]) == 1
    want = {
        r.vec_id: list(r.codes)
        for r in pq_encode(emb, "vec_id", "embedding", cb, normalize=True).collect()
    }
    served = {
        r.vec_id: list(r.codes) for r in read_pq_store(spark, store).collect()
    }
    assert served == want
    assert compact_pq_store(spark, store)
    assert {
        r.vec_id: list(r.codes) for r in read_pq_store(spark, store).collect()
    } == want

    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    _publish_manifest(bad, {"version": 9, "something": "else"})
    with _pytest.raises(ValueError, match="manifest shape"):
        read_pq_store(spark, bad)


def test_pq_store_two_cycle_reclaim(spark, tmp_path):
    """Reclamation is provable, not listdir-based: a compaction RETIRES
    the chain it superseded (kept a full cycle for in-flight readers)
    and deletes only the PREVIOUS cycle's retired dirs.  An
    unreferenced dir (e.g. a delta mid-write by a concurrent refresh)
    is never touched."""
    import json
    import os

    from mongo2mysql_spark.streaming.pqstore import (
        compact_pq_store,
        read_pq_store,
        refresh_pq_store,
    )

    emb, cb, store, _ = _pq_fixture(spark, tmp_path)
    man0 = json.load(open(os.path.join(store, "MANIFEST.json")))
    gen0 = man0["deltas"]
    # a dir no manifest references — a concurrent refresh mid-write
    inflight = os.path.join(store, "stores", "inflightwrite")
    os.makedirs(inflight)

    assert compact_pq_store(spark, store)
    man1 = json.load(open(os.path.join(store, "MANIFEST.json")))
    assert sorted(man1["retired"]) == sorted(gen0)
    for rel in gen0:  # superseded but kept one cycle
        assert os.path.isdir(os.path.join(store, rel))

    assert refresh_pq_store(
        emb.filter(F.col("vec_id") % 2 == 0), store, "vec_id", "embedding", cb
    )
    assert compact_pq_store(spark, store)
    man2 = json.load(open(os.path.join(store, "MANIFEST.json")))
    for rel in gen0:  # previous cycle's retired: now provably dead
        assert not os.path.exists(os.path.join(store, rel)), rel
    for rel in man2["retired"] + [man2["base"]]:  # current cycle intact
        assert os.path.isdir(os.path.join(store, rel))
    assert os.path.isdir(inflight), "unreferenced dir must never be reclaimed"
    assert read_pq_store(spark, store).count() == emb.count()


@pytest.mark.slow
def test_streaming_pq_refresh_bounds_chain_with_max_deltas(spark, tmp_path):
    """VERDICT r7 ask #6: a LONG refresh chain (20 micro-batches) under
    ``max_deltas`` stays read-correct and auto-compacts — the final
    manifest holds a base plus at most max_deltas deltas, and the
    resolved store equals a one-shot encode of everything ingested."""
    import json
    import os

    from mongo2mysql_spark.operators.pq import collect_codebook, pq_encode
    from mongo2mysql_spark.streaming.pqstore import (
        read_pq_store,
        streaming_pq_refresh,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    cb = collect_codebook(
        emb, "vec_id", "embedding", m_sub=8, stride=31, k_max=16,
        normalize=True,
    )
    src = tmp_path / "src"
    src.mkdir()
    for i in range(20):  # one file per micro-batch
        emb.filter(F.col("vec_id") % 20 == i).coalesce(1).write.parquet(
            str(src / f"b{i:02d}")
        )
    store = str(tmp_path / "pq")
    q = streaming_pq_refresh(
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*"),
        store,
        "vec_id",
        "embedding",
        cb,
        checkpoint_dir=str(tmp_path / "ck"),
        max_deltas=3,
    )
    q.awaitTermination(300)
    man = json.load(open(os.path.join(store, "MANIFEST.json")))
    assert man["base"] is not None, "auto-compaction never ran"
    assert len(man["deltas"]) <= 3
    served = {
        r.vec_id: list(r.codes) for r in read_pq_store(spark, store).collect()
    }
    want = {
        r.vec_id: list(r.codes)
        for r in pq_encode(emb, "vec_id", "embedding", cb, normalize=True).collect()
    }
    assert served == want


# ------------------------------------------------- streaming ANN serving


@pytest.mark.slow
def test_ann_serve_streaming_equals_batch_and_resubmission_wins(spark, tmp_path):
    """streaming/annserve: (1) two disjoint query micro-batches against
    the stored BQ words serve exactly the batch topk_hamming answer;
    (2) re-submitting a query in a later batch supersedes its earlier
    rows (latest-answer-per-query via the store's merge-on-read)."""
    import shutil

    from mongo2mysql_spark.operators.similarity import sign_pack, topk_hamming
    from mongo2mysql_spark.streaming.annserve import (
        read_ann_results,
        streaming_ann_serve,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    signs = sign_pack(emb, "vec_id", "embedding", 64).localCheckpoint()
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{SF}/embeddings.parquet", src / "part0.parquet")
    store = str(tmp_path / "serve")

    def submit(flt, ck):
        q = streaming_ann_serve(
            spark.readStream.schema(emb.schema).parquet(str(src)).filter(flt),
            store,
            signs,
            "vec_id",
            "embedding",
            dim=64,
            k=5,
            checkpoint_dir=str(tmp_path / ck),
        )
        assert q.awaitTermination(120)

    submit(F.col("vec_id") < 2, "ck0")
    submit((F.col("vec_id") >= 2) & (F.col("vec_id") < 4), "ck1")

    served = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.ham)
        for r in read_ann_results(spark, store).collect()
    )
    batch = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.ham)
        for r in topk_hamming(
            emb, emb.filter(F.col("vec_id") < 4), "vec_id", "embedding",
            dim=64, k=5, corpus_packed=signs,
        ).collect()
    )
    assert served == batch and len(served) == 4 * 5

    # resubmit query 1 against a GROWN corpus: its rows must be
    # superseded by the new answer, queries 0/2/3 keep their old rows
    grown = emb.unionByName(
        emb.filter(F.col("vec_id") == 1).select(
            (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label"
        )
    )
    signs2 = sign_pack(grown, "vec_id", "embedding", 64).localCheckpoint()
    q = streaming_ann_serve(
        spark.readStream.schema(emb.schema)
        .parquet(str(src))
        .filter(F.col("vec_id") == 1),
        store,
        signs2,
        "vec_id",
        "embedding",
        dim=64,
        k=5,
        checkpoint_dir=str(tmp_path / "ck2"),
    )
    assert q.awaitTermination(120)
    after = read_ann_results(spark, store)
    assert after.count() == 4 * 5  # still 5 rows per query
    # the clone of query 1 (hamming 0) is now its rank-1 neighbor
    top1 = after.filter(
        (F.col("query_id") == 1) & (F.col("rank") == 1)
    ).collect()[0]
    assert top1.neighbor_id == 10_001 and top1.ham == 0
    # an untouched query's rows are byte-identical to the first serve
    keep = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.ham)
        for r in after.filter(F.col("query_id") == 0).collect()
    )
    assert keep == [t for t in served if t[0] == 0]


@pytest.mark.slow
def test_streaming_funnel_state_carries_across_batches(spark, tmp_path):
    """streaming/funnel: a user whose steps straddle the micro-batch
    boundary still converts (state carries stage + completion across
    batches), strict order is enforced within AND across batches, and
    the collapsed counts equal the batch operator's."""
    import os
    from datetime import datetime

    from mongo2mysql_spark.operators.behavior import funnel_counts
    from mongo2mysql_spark.streaming.funnel import (
        funnel_counts_from_progress,
        streaming_funnel_progress,
    )
    from mongo2mysql_spark.streaming.pipeline import run_to_memory

    steps = ["signup", "view"]
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    rows_b0 = [
        (1, datetime(2024, 1, 1, 1), 1, "signup"),   # u1 converts across
        (2, datetime(2024, 1, 1, 2), 2, "view"),     # u2: view BEFORE signup
        (3, datetime(2024, 1, 1, 3), 2, "signup"),
        (4, datetime(2024, 1, 1, 4), 3, "signup"),   # u3 converts in-batch
        (5, datetime(2024, 1, 1, 5), 3, "view"),
    ]
    rows_b1 = [
        (6, datetime(2024, 1, 2, 1), 1, "view"),     # u1 completes here
        (7, datetime(2024, 1, 2, 2), 4, "signup"),   # u4 never views
    ]
    src = tmp_path / "in"
    src.mkdir()
    for i, rows in enumerate((rows_b0, rows_b1)):
        df = spark.createDataFrame(rows, schema).coalesce(1)
        stage = str(tmp_path / f"s{i}")
        df.write.parquet(stage)
        part = next(n for n in os.listdir(stage) if n.endswith(".parquet"))
        dst = str(src / f"{i:02d}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    prog = streaming_funnel_progress(
        stream, "user_id", "event_type", "ts", "event_id", steps
    )
    res = run_to_memory(prog, mode="append", shuffle_partitions=4)
    # u1 must appear in BOTH batches (stage 1 then 2) — proof the state
    # actually crossed the micro-batch boundary
    u1 = sorted(r.stage for r in res.filter("user_id = 1").collect())
    assert u1 == [1, 2]
    got = {
        (r.step, r.users, r.denom, r.rate)
        for r in funnel_counts_from_progress(res, "user_id", steps).collect()
    }
    batch = spark.createDataFrame(rows_b0 + rows_b1, schema)
    want = {
        (r.step, r.users, r.denom, r.rate)
        for r in funnel_counts(
            batch, "user_id", "event_type", "ts", "event_id", steps
        ).collect()
    }
    assert got == want
    assert (1, 4, None, None) in got and (2, 2, 4, 0.5) in got


def test_join_view_incremental_equals_batch(spark, tmp_path):
    """Interleaved a/b insert batches folded through the aggregate-
    pushdown IVM store must serve the exact batch join-aggregate —
    counters bounded by keys, never by history."""
    from mongo2mysql_spark.sources.parquet import load_table
    from mongo2mysql_spark.streaming.joinview import (
        read_join_view,
        streaming_join_view_refresh,
    )

    store = str(tmp_path / "jv")
    # side a: 'view' events (key user, group hour-of-day);
    # side b: 'purchase' events (key user, value)
    runs = [
        ("a", F.col("event_type") == "view", 0),
        ("b", F.col("event_type") == "purchase", 0),
        ("a", F.col("event_type") == "view", 1),
        ("b", F.col("event_type") == "purchase", 1),
    ]
    for i, (side, pred, half) in enumerate(runs):
        s = (
            stream_events(spark, SF)
            .filter(pred & (F.col("event_id") % 2 == half))
            .withColumn("grp", F.hour("ts"))
        )
        q = streaming_join_view_refresh(
            s, store, side, "user_id",
            group_col="grp", value_col="value",
            checkpoint_dir=str(tmp_path / f"ck{i}"),
        )
        q.awaitTermination(120)
    served = {
        r["grp"]: (int(r["n_pairs"]), int(r["pair_sum_q"]))
        for r in read_join_view(spark, store).collect()
    }
    ev = load_table(spark, SF, "events")
    a = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("k"), F.hour("ts").alias("grp")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("k"),
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("vq"),
    )
    batch = {
        r["grp"]: (r["n"], r["s"])
        for r in a.join(b, "k")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vq").cast("long").alias("s"),
        )
        .collect()
    }
    assert served == batch and len(served) > 0


def test_join_view_epoch_replay_guard(spark, tmp_path):
    from mongo2mysql_spark.streaming.joinview import (
        read_join_view,
        refresh_join_view,
    )

    store = str(tmp_path / "jv")
    a = spark.createDataFrame([(1, 10), (2, 10)], "k long, grp long")
    b = spark.createDataFrame([(1, 2.5)], "k long, v double")
    assert refresh_join_view(a, store, "a", "k", group_col="grp",
                             writer="w", epoch=0)
    assert refresh_join_view(b, store, "b", "k", value_col="v",
                             writer="w", epoch=1)
    first = {(r["grp"], int(r["n_pairs"]), int(r["pair_sum_q"]))
             for r in read_join_view(spark, store).collect()}
    assert first == {(10, 1, 2_500_000)}
    # replayed epoch (same writer) must be a no-op
    assert not refresh_join_view(b, store, "b", "k", value_col="v",
                                 writer="w", epoch=1)
    again = {(r["grp"], int(r["n_pairs"]), int(r["pair_sum_q"]))
             for r in read_join_view(spark, store).collect()}
    assert again == first
    # a DIFFERENT writer (fresh checkpoint lineage) applies from 0
    assert refresh_join_view(b, store, "b", "k", value_col="v",
                             writer="w2", epoch=0)
    doubled = {(r["grp"], int(r["n_pairs"]), int(r["pair_sum_q"]))
               for r in read_join_view(spark, store).collect()}
    assert doubled == {(10, 2, 5_000_000)}


def test_join_view_interleaved_writer_replay_guard(spark, tmp_path):
    """Two-sided interleaving: A applies its epoch, B commits (manifest
    last-writer becomes B), then A's SAME epoch is replayed by a
    foreachBatch retry.  A last-(writer, epoch)-pair guard fails open
    here and double-applies A's delta; the per-writer epoch MAP must
    reject it."""
    from mongo2mysql_spark.streaming.joinview import (
        read_join_view,
        refresh_join_view,
    )

    store = str(tmp_path / "jv")
    a = spark.createDataFrame([(1, 10)], "k long, grp long")
    b = spark.createDataFrame([(1, 2.5)], "k long, v double")
    assert refresh_join_view(a, store, "a", "k", group_col="grp",
                             writer="wa", epoch=0)
    assert refresh_join_view(b, store, "b", "k", value_col="v",
                             writer="wb", epoch=0)
    first = {(r["grp"], int(r["n_pairs"]), int(r["pair_sum_q"]))
             for r in read_join_view(spark, store).collect()}
    assert first == {(10, 1, 2_500_000)}
    # A's retried epoch 0 arrives AFTER B took the manifest: no-op
    assert not refresh_join_view(a, store, "a", "k", group_col="grp",
                                 writer="wa", epoch=0)
    # and B's retried epoch 0 likewise
    assert not refresh_join_view(b, store, "b", "k", value_col="v",
                                 writer="wb", epoch=0)
    again = {(r["grp"], int(r["n_pairs"]), int(r["pair_sum_q"]))
             for r in read_join_view(spark, store).collect()}
    assert again == first
    # genuinely NEW epochs on both writers still apply
    assert refresh_join_view(b, store, "b", "k", value_col="v",
                             writer="wb", epoch=1)
    doubled = {(r["grp"], int(r["n_pairs"]), int(r["pair_sum_q"]))
               for r in read_join_view(spark, store).collect()}
    assert doubled == {(10, 2, 5_000_000)}
