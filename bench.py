"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value" (total sec), "unit", "queries", "sf"}.

Each query is materialized through the noop sink — full computation,
no driver-side collect overhead distorting the timing.  An ETL
throughput figure (rows/s through the porter pipeline, the reference's
only published number — ~2,200 rows/s, BASELINE.md) is included as an
extra key.

Attribution contract (r11): per-branch walls for every multi-branch
slot are written to ``bench_full_latest.json`` by the same process,
and the printed line carries that file's ``run_id`` plus a sha256
prefix of its bytes — the driver-recorded line proves the on-disk
branch attribution came from the driver's own run.  Headline timings
are interleaved best-of-2 with an adaptive third sample for slots
whose two passes disagree by >25%.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mongo2mysql_spark.queries import load_all  # noqa: E402
from mongo2mysql_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family, weighted toward the heavy ones.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "parent_child_reassembly",
    "window_functions_orders",
    "events_sessionize",
    "etl_child_spill_tokens",
    "etl_route_key",
    "dedup_exact_hashes",
    "dedup_pair_families",
    "dedup_connected_components",
    "sample_split_stratified",
    "ann_topk_exact",
    "ann_topk_ivf",
    "decontam_profile",
    "text_winnow_fingerprints",
    "text_profile_pii",
    "range_join_promo_revenue",
    "events_hypertable_rollup",
    "resample_gapfill",
    "chunk_documents",
    "embedding_stats",
    "text_term_frequency",
    "text_bm25_search",
    "corpus_clean_shuffle",
    "corpus_pack_sequences",
    "streaming_windowed_counts",
    "streaming_stream_join",
    "streaming_enrich_join",
    "streaming_stateful_quota",
    "mm_payload_decode",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Per-branch attribution for the multi-branch tagged slots (the r5
# round-over-round deltas conflated branch growth with regressions).
# Keyed by slot -> (tag column, branch tags).
BRANCHED = {
    "dedup_exact_hashes": (
        "method",
        ["token_set", "sha256", "simhash32", "url_norm", "url_host",
         "url_host_urls"],
    ),
    "dedup_pair_families": (
        "family",
        ["minhash_lsh", "ppjoin_shingles", "ngram_jaccard",
         "embedding_cosine", "edit_distance"],
    ),
    "sample_split_stratified": (
        "branch",
        ["strata", "dsir", "fixedn", "groupsplit", "unimax", "priority"],
    ),
    "text_winnow_fingerprints": ("branch", ["fps", "pairs", "strip"]),
    "text_profile_pii": ("branch", ["profile", "pii", "repetition", "html"]),
    "corpus_clean_shuffle": (
        "branch", ["clean", "shuffle", "ppl", "c4", "curriculum"],
    ),
    "embedding_stats": (
        "branch",
        ["stats", "quant", "pqcodes", "pqsearch", "pqtrained", "pqtsearch",
         "prune", "pqstore_delta", "pqstore_base"],
    ),
    "mm_payload_decode": (
        "branch", ["payload", "decode", "patches", "frames"],
    ),
    "ann_topk_exact": ("path", ["fold", "arrow", "hamming", "bqrescore",
                                "hamserve", "simhash", "mrl"]),
    "ann_topk_ivf": ("branch", ["ivf", "ivfpart", "triplets", "ivfpq",
                               "ivfadc", "mmr", "kcenter"]),
    "corpus_pack_sequences": ("branch", ["spans", "manifest", "buckets",
                                         "syssample"]),
    "text_bm25_search": ("branch", ["bm25", "rrf", "phrase"]),
    "dedup_connected_components": ("branch", ["closure", "canon",
                                              "pagerank", "triangles",
                                              "incclosure"]),
    "events_sessionize": ("branch", ["sessions", "funnel", "funnelwin",
                                     "funnelmax", "funnelstate",
                                     "retention", "transitions", "paths",
                                     "latency", "latdist",
                                     "attribution"]),
    # 'keyness' is intentionally NOT attributed: its per-label
    # min-count threshold serves zero rows on the sf0.001 consistency
    # fixture (it serves at the gate/bench SFs) and the branch-map test
    # treats never-served tags as stale entries
    "text_term_frequency": ("branch", ["tf", "domains", "domainsizes",
                                       "collocations"]),
    "agg_approx_sketches": ("branch", ["bounds", "kmv", "joinest",
                                       "histjoinest", "histstats",
                                       "joinorder", "starorder",
                                       "snowflake", "graphorder",
                                       "joinexec"]),
    "profile_table_stats": ("branch", ["profile", "integrity", "skew",
                                       "histogram", "cms", "cmsstr",
                                       "cmsstream", "encoding", "fd",
                                       "selest"]),
    "range_join_promo_revenue": ("branch", ["point", "overlap"]),
    "resample_gapfill": ("branch", ["resample", "zscore", "forecast",
                                    "backtest", "ohlc", "trend", "mad",
                                    "twap"]),
    "streaming_enrich_join": ("branch", ["enrich", "joinview",
                                         "bloomjoin"]),
    "topk_parts_per_brand": ("op", ["topk", "min", "basket", "zorder"]),
    "events_hypertable_rollup": ("granularity", ["hour", "day", "week",
                                                 "sliding24h"]),
    "drift_psi": ("kind", ["numeric", "categorical", "cusum"]),
}


def branch_timings(spark, registry) -> dict[str, float]:
    """One `slot.branch` timing per branch of the tagged slots, plus
    `slot.build` for the fn call itself.  The returned union filters on
    the literal tag, so Catalyst prunes every other leg and a LAZY
    branch's time is its own cost; a branch the fn materialized eagerly
    (checkpointed pairs, streaming refreshes, memoized LSH passes)
    times near zero here — that cost sits in `slot.build`.  These keys
    are attribution only; the headline total sums whole slots."""
    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    for slot, (tag, branches) in BRANCHED.items():
        try:
            t0 = time.time()
            df = registry[slot].fn(spark, SF_DIR)
            out[f"{slot}.build"] = round(time.time() - t0, 3)
            for b in branches:
                t0 = time.time()
                materialize(df.filter(F.col(tag) == b))
                out[f"{slot}.{b}"] = round(time.time() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            print(f"bench: branch pass {slot} FAILED: {exc}", file=sys.stderr)
        spark.catalog.clearCache()
    return out


def etl_rows_per_sec(spark, sf_dir: str) -> tuple[float, int]:
    """Porter pipeline over the three biggest tables → rows/s (compare:
    reference ≈ 2,200 rows/s, BASELINE.md)."""
    from mongo2mysql_spark.porter import PorterConfig, SparkPorter
    from mongo2mysql_spark.sources.parquet import load_table

    collections = {
        n: load_table(spark, sf_dir, n) for n in ("lineitem", "orders", "events")
    }
    n_rows = sum(df.count() for df in collections.values())
    t0 = time.time()
    exports = SparkPorter(spark, PorterConfig()).run_to_frames(collections)
    for export in exports.values():
        for tdf in export.tables.values():
            materialize(tdf)
    dt = time.time() - t0
    for export in exports.values():
        export.unpersist()
    return (n_rows / dt if dt > 0 else float("inf"), n_rows)


def ivf_recall(spark, sf_dir: str, k: int = 5) -> dict[str, float]:
    """Recall@k of the IVF bucketed path vs exact brute force across the
    nprobe lever (cost ~linear in nprobe, recall should be monotone) —
    the accuracy/cost trade the 100 TB deployment tunes."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.similarity import topk_bruteforce, topk_ivf
    from mongo2mysql_spark.sources.parquet import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_bruteforce(e, q, "vec_id", "embedding", k=k).collect()
    }
    out = {}
    for nprobe in (1, 2, 4):
        ivf = {
            (r["query_id"], r["neighbor_id"])
            for r in topk_ivf(
                e, q, "vec_id", "embedding", centroid_stride=97, k=k, nprobe=nprobe
            ).collect()
        }
        out[f"nprobe{nprobe}"] = round(len(ivf & bf) / len(bf), 4)
    # the recall-floor path: smallest nprobe meeting 0.9 on a
    # calibration sample (operators/similarity.ivf_calibrate) — the
    # configuration a deployment should actually serve at
    from mongo2mysql_spark.operators.similarity import ivf_calibrate

    nprobe, recall = ivf_calibrate(
        e, q, "vec_id", "embedding", k=k, centroid_stride=97, target_recall=0.9
    )
    out["calibrated_nprobe"] = nprobe
    out["calibrated_recall"] = round(recall, 4)
    return out


def pq_recall(spark, sf_dir: str, k: int = 10) -> dict[str, float]:
    """Recall of the exact cosine top-k within the PQ ADC candidate set
    across candidate-expansion factors — the accuracy/cost lever of the
    32x bandwidth cut (operators/pq.py), analogous to IVF's nprobe.
    The synthetic embeddings are near-orthogonal (true top-1 cosine
    ~0.3), so tight ADC cuts are quantization-noise-bound and the
    deployment lever is scanning an expanded candidate set (still code
    bytes, not floats) before the exact float re-score."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.pq import (
        collect_codebook,
        pq_adc_topk,
        pq_encode,
        train_codebook,
        train_codebook_distributed,
    )
    from mongo2mysql_spark.operators.similarity import topk_bruteforce
    from mongo2mysql_spark.sources.parquet import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_bruteforce(e, q, "vec_id", "embedding", k=k).collect()
    }
    books = {
        # the oracle-restatable stride codebook hashed slots serve, and
        # the Lloyd-trained one a deployment would actually build
        "stride": collect_codebook(
            e, "vec_id", "embedding", m_sub=8, stride=31, k_max=16,
            normalize=True,
        ),
        # 16 centroids matches the slot's 4-bit book; the trained book
        # also widens to 64 (6-bit codes — PQ-fastscan territory), the
        # accuracy/bandwidth point a deployment would pick: encode is
        # still one map-only projection, ADC still m byte lookups
        "kmeans": train_codebook(
            e, "vec_id", "embedding", m_sub=8, stride=31, k_max=16,
            normalize=True,
        ),
        "kmeans64": train_codebook(
            e, "vec_id", "embedding", m_sub=8, stride=7, k_max=64,
            normalize=True,
        ),
        # the cluster-scale trainer (mapInPandas partial-sum Lloyd over
        # the WHOLE frame, no driver-memory bound): same 6-bit point as
        # kmeans64 but trained on every vector — recall should match or
        # beat the driver-sample book
        "dist64": train_codebook_distributed(
            e, "vec_id", "embedding", m_sub=8, stride=7, k_max=64,
            normalize=True,
        ),
    }
    out = {}
    for name, cb in books.items():
        codes = pq_encode(e, "vec_id", "embedding", cb, normalize=True)
        # ONE top-(k*10) search per book; the expansion curve falls out
        # of rank prefixes (ranks are total-ordered), so the corpus is
        # scanned once per book instead of once per (book, expand)
        hits = pq_adc_topk(
            codes, q, e, "vec_id", "embedding", cb, k=k * 10,
            normalize=True,
        ).collect()
        for expand in (1, 5, 10):
            adc = {
                (r["query_id"], r["neighbor_id"])
                for r in hits
                if r["rank"] <= k * expand
            }
            out[f"{name}_expand{expand}"] = round(len(adc & bf) / len(bf), 4)
    # the production funnel end-to-end: IVF cells × PQ codes × exact
    # rerank (operators/pq.pq_ivf_topk) with the trained 6-bit book —
    # recall@k of the FINAL result, nprobe the recall lever
    from mongo2mysql_spark.operators.pq import pq_ivf_topk

    # encode once (checkpointed code table = the index state both
    # nprobe points search), like a deployment would
    codes64 = pq_encode(
        e, "vec_id", "embedding", books["kmeans64"], normalize=True
    ).localCheckpoint()
    for nprobe in (2, 4):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in pq_ivf_topk(
                e, q, "vec_id", "embedding", books["kmeans64"],
                centroid_stride=97, nprobe=nprobe, k=k, rerank=10,
                normalize=True, codes_df=codes64,
            ).collect()
        }
        out[f"ivfpq_nprobe{nprobe}"] = round(len(got & bf) / len(bf), 4)

    # binary quantization (sign bits + Hamming): the cheapest serving
    # mode — 2 ints/vector, integer-only distance; its recall@k vs the
    # exact top-k is the accuracy price of the 32x read cut
    from mongo2mysql_spark.operators.similarity import topk_hamming

    ham = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_hamming(e, q, "vec_id", "embedding", dim=64, k=k).collect()
    }
    out["hamming_at_k"] = round(len(ham & bf) / len(bf), 4)

    # ...and the funnel a deployment actually serves: hamming-prune to
    # k*10 candidates, exact rescore — recall recovered at integer-scan
    # cost
    from mongo2mysql_spark.operators.similarity import topk_hamming_rescore

    hamr = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_hamming_rescore(
            e, q, "vec_id", "embedding", dim=64, k=k, overfetch=10
        ).collect()
    }
    out["hamming_rescore_at_k"] = round(len(hamr & bf) / len(bf), 4)

    # wide binary quantization (r8): structured FWHT SimHash decouples
    # signature width from the vector dimension — raw sign-packing caps
    # at 64 bits on this corpus; 128/256-bit signatures halve/quarter
    # relative Hamming rank noise.  The delta vs hamming_at_k is what
    # the extra bits buy (the r7 verdict asked: report, don't assume)
    from mongo2mysql_spark.operators.similarity import topk_simhash

    for bits in (128, 256):
        sh = {
            (r["query_id"], r["neighbor_id"])
            for r in topk_simhash(
                e, q, "vec_id", "embedding", dim=64, n_bits=bits, k=k
            ).collect()
        }
        out[f"simhash{bits}_at_k"] = round(len(sh & bf) / len(bf), 4)

    # dimension-truncation funnel (r8, the Matryoshka serving mode):
    # prefix-cosine prune on 16 of 64 dims (4x float read cut), exact
    # rescore of k*10 finalists
    from mongo2mysql_spark.operators.similarity import topk_truncated_rescore

    mrl = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_truncated_rescore(
            e, q, "vec_id", "embedding", prefix_dim=16, k=k, overfetch=10
        ).collect()
    }
    out["mrl16_rescore_at_k"] = round(len(mrl & bf) / len(bf), 4)

    # IVFADC (residual encoding, the FAISS IndexIVFPQ default): PQ
    # codes quantize x - c(x) per cell instead of the raw vector —
    # same bits, finer quantizer wherever cells are tight; the delta
    # vs ivfpq_* at identical nprobe is what residual encoding buys
    # (near-zero on these near-isotropic synthetic embeddings, large
    # on clustered real ones — report, don't assume)
    from mongo2mysql_spark.operators.pq import (
        build_pq_residual_index,
        pq_ivfadc_topk,
    )

    cells_r, cb_r, codes_r = build_pq_residual_index(
        e, "vec_id", "embedding", m_sub=8,
        centroid_stride=97, code_stride=7, k_max=64, train_iters=10,
    )
    codes_r = codes_r.localCheckpoint()
    for nprobe in (2, 4):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in pq_ivfadc_topk(
                e, q, "vec_id", "embedding", (cells_r, cb_r, codes_r),
                centroid_stride=97, nprobe=nprobe, k=k, rerank=10,
            ).collect()
        }
        out[f"ivfadc_nprobe{nprobe}"] = round(len(got & bf) / len(bf), 4)

    # OPQ at the same 6-bit point: learned rotation + codebooks
    # (operators/pq.train_opq_distributed), searched through the
    # UNCHANGED encode/ADC plans over the rotated frames — the recall
    # delta vs dist64 is what the rotation buys on these embeddings
    from mongo2mysql_spark.operators.pq import (
        rotate_vectors,
        train_opq_distributed,
    )

    r_opq, cb_opq = train_opq_distributed(
        e, "vec_id", "embedding", m_sub=8, stride=7, k_max=64,
        iters=8, normalize=True,
    )
    rcorpus = rotate_vectors(
        e, "vec_id", "embedding", r_opq, normalize=True
    ).localCheckpoint()
    codes_opq = pq_encode(rcorpus, "vec_id", "embedding", cb_opq)
    rq = rcorpus.filter(F.col("vec_id") < 5)
    hits = pq_adc_topk(
        codes_opq, rq, rcorpus, "vec_id", "embedding", cb_opq, k=k * 10
    ).collect()
    for expand in (1, 5, 10):
        adc = {
            (r["query_id"], r["neighbor_id"])
            for r in hits
            if r["rank"] <= k * expand
        }
        out[f"opq64_expand{expand}"] = round(len(adc & bf) / len(bf), 4)
    return out


def main() -> None:
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    # no console progress bars: the driver records a bounded TAIL of
    # stdout, and stage-progress \r-junk ahead of the final JSON line
    # eats the budget that line must fit in
    spark = build_session(
        app_name="mongo2mysql_spark-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")  # keep the stdout tail clean
    registry = load_all()
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # warm up codegen/scan/broadcast-join paths so the relational
    # headliners don't absorb session startup (r4 showed q1/q3/q5 at
    # 1.5-3x their warm standalone times even under best-of-2 — warm
    # each of them once, untimed, before the measured passes)
    for warm in ("q1_pricing_summary", "q3_shipping_priority", "q5_regional_revenue"):
        materialize(registry[warm].fn(spark, SF_DIR))
    spark.catalog.clearCache()
    # ...and the Python-worker pool so the first Arrow/mapInPandas query
    # doesn't absorb 32 worker spawns + imports (session overhead, not
    # query cost)
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # best of 2, INTERLEAVED: the box is shared, and co-tenant bursts
    # last minutes — two back-to-back runs of one query both land inside
    # a burst, but two full passes separate each query's samples by a
    # whole pass, so the per-query min survives all but pass-length
    # bursts.  Same total cost as back-to-back best-of-2.
    # One broken query must never zero out the round's perf signal:
    # failures are recorded per-query and the headline sums the rest.
    samples: dict[str, list[float]] = {}
    failures: dict[str, str] = {}

    def run_once(name: str) -> None:
        fn = registry[name].fn
        t0 = time.time()
        try:
            materialize(fn(spark, SF_DIR))
        except Exception as exc:  # noqa: BLE001
            failures[name] = f"{type(exc).__name__}: {exc}"[:500]
            samples.pop(name, None)
            print(f"bench: {name} FAILED: {failures[name]}", file=sys.stderr)
            return
        samples.setdefault(name, []).append(time.time() - t0)
        # drop per-query persisted frames (e.g. LSH signatures) so
        # later queries aren't squeezed by earlier caches
        spark.catalog.clearCache()

    for _pass in range(2):
        for name in HEADLINE:
            if name not in failures:
                run_once(name)
    # adaptive third sample: a slot whose two interleaved samples
    # disagree by >25% was hit by a co-tenant burst in one of them —
    # one more sample makes the min robust to a burst spanning a whole
    # pass, at the cost of re-running only the noisy slots.  A FAILED
    # third attempt must not discard the two good samples the slot
    # already earned (the robustness pass must never reduce
    # robustness): restore them and drop the failure record.
    for name in list(samples):
        ss = list(samples[name])
        if len(ss) == 2 and min(ss) > 0 and (max(ss) - min(ss)) / min(ss) > 0.25:
            run_once(name)
            if name in failures:
                print(
                    f"bench: {name} third sample failed; keeping the two "
                    f"good passes", file=sys.stderr,
                )
                failures.pop(name)
                samples[name] = ss
    timings = {n: round(min(ss), 3) for n, ss in samples.items()}

    try:
        # warm-up run first (untimed), report the second: the porter's
        # codegen paths are distinct from the query warmups above, and
        # the cold/warm gap is ~5x (93k vs 500k rows/s measured) — the
        # steady-state figure is the meaningful one for a long-running
        # export, and the cold one made the round-over-round ETL number
        # pure JIT noise
        etl_rows_per_sec(spark, SF_DIR)
        # best-of-2 on the measured passes: a co-tenant burst during
        # the single measured run halved the reported figure in one
        # local round (726k → 420k rows/s on identical code)
        rps, n_rows = max(
            etl_rows_per_sec(spark, SF_DIR),
            etl_rows_per_sec(spark, SF_DIR),
        )
    except Exception as exc:  # noqa: BLE001
        failures["etl_rows_per_sec"] = f"{type(exc).__name__}: {exc}"[:500]
        print(f"bench: etl_rows_per_sec FAILED: {failures['etl_rows_per_sec']}",
              file=sys.stderr)
        rps, n_rows = 0.0, 0

    try:
        recall = ivf_recall(spark, SF_DIR)
    except Exception as exc:  # noqa: BLE001
        failures["ivf_recall"] = f"{type(exc).__name__}: {exc}"[:500]
        recall = {}

    try:
        pqr = pq_recall(spark, SF_DIR)
    except Exception as exc:  # noqa: BLE001
        failures["pq_recall"] = f"{type(exc).__name__}: {exc}"[:500]
        pqr = {}

    total = round(sum(timings.values()), 3)
    # attribution pass AFTER the total is fixed: slot.branch keys are
    # informational and never inflate the headline number
    branch_rows = branch_timings(spark, registry)
    out = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "etl_rows_per_sec": round(rps, 1),
        "etl_rows": n_rows,
        "ivf_recall_at_5": recall,
        "pq_recall_at_10": pqr,
    }
    if failures:
        out["failures"] = failures
    # The driver records only a ~2000-char TAIL of stdout (BENCH_r06's
    # headline total was truncated away by the ~150 slot.branch keys),
    # so the branch attribution cannot ride in the printed line.  It
    # goes to bench_full_latest.json written BY THIS SAME PROCESS, and
    # the printed line carries (run_id, branches_sha) — run_id is
    # repeated inside the file and branches_sha is the sha256 prefix of
    # the file's bytes, so the driver-recorded line PROVES the on-disk
    # per-branch timings came from this exact driver run (tamper-
    # evident attribution, not builder self-report).  Raw per-pass
    # samples ride along for noise forensics.
    import hashlib
    import uuid

    run_id = uuid.uuid4().hex[:12]
    full = dict(out)
    full["queries"] = {**timings, **branch_rows}
    full["run_id"] = run_id
    full["samples"] = {n: [round(x, 3) for x in ss]
                       for n, ss in samples.items()}
    payload = json.dumps(full).encode()
    here = os.path.dirname(os.path.abspath(__file__))
    # archive per run AND keep the latest-pointer file (VERDICT r12 #7:
    # a later bench run overwrote bench_full_latest.json, orphaning the
    # earlier run's printed branches_sha — the per-run copy keeps every
    # printed sha verifiable); identical bytes, same sha chain
    for fname in ("bench_full_latest.json", f"bench_full_{run_id}.json"):
        with open(os.path.join(here, fname), "wb") as fh:
            fh.write(payload)
    out["run_id"] = run_id
    out["branches_sha"] = hashlib.sha256(payload).hexdigest()[:16]
    # stop BEFORE printing: shutdown log lines after the JSON would eat
    # the tail budget from the end and truncate the line's head
    try:
        spark.stop()
    except Exception:  # noqa: BLE001
        pass
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
