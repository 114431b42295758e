"""Product-level pipeline API: one callable from raw documents to a
training-ready sharded corpus (extension layer; the orchestration
counterpart of ``porter.SparkPorter`` for the LLM-data side — the
reference's run-all driver shape, Porter.php:508-511, applied to the
corpus-building operators).

Every stage is one of the engine's tested operators; this module only
composes them and reports what each stage did.  The whole pipeline is
lazily planned per stage, so Catalyst fuses the score+filter+dedup+
split chain into a single scan+shuffle before anything materializes.
The report's stage counts cost no pass of their own: each stage frame
carries an Observation (``telemetry.observe``) that the actions which
run anyway — the dedup and pair-finding jobs, the cache fills, the
shard and split writes — collect, and the report reads them after the
last write.

Scale: the only corpus-wide shuffles are the dedup rank, the optional
LSH banding, and the shard write — each individually audited in its
own module.  BPE learning runs on the word-frequency table (vocabulary
-sized); packing uses the two-phase prefix sum; nothing collects the
corpus.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo2mysql_spark.functions.text import (
    dup_token_fraction,
    fingerprint,
    quality_score,
    tokens,
)
from mongo2mysql_spark.operators.bpe import (
    apply_merges,
    learn_merges,
    word_freq_table,
)
from mongo2mysql_spark.operators.dedup import dedup_exact
from mongo2mysql_spark.operators.decontam import remove_contaminated
from mongo2mysql_spark.operators.packing import pack_sequences
from mongo2mysql_spark.operators.sampling import hash_split
from mongo2mysql_spark.sources.lake import write_training_shards
from mongo2mysql_spark.telemetry import observe


@dataclass
class CorpusConfig:
    html_strip: bool = False      # HTML -> visible text before everything
    c4_line_clean: bool = False   # C4 line/page structural cleaning first
    c4_word_blocklist: tuple[str, ...] = ()  # C4 §2.2 bad-words page rule
    url_col: str | None = None    # with host_blocklist: drop blocked hosts
    min_quality: float = 0.3
    min_tokens: int = 20
    max_dup_fraction: float = 0.65
    max_ppl: float | None = None      # bigram-LM perplexity cap (needs lm_reference)
    clf_keep_frac: float | None = None   # keep top fraction by classifier score
    clf_negative_frac: float = 0.2       # corpus sample rate for negatives
    clf_iters: int = 10                  # classifier training iterations
    dsir_keep_frac: float | None = None  # keep top fraction by DSIR weight
    near_dedup: bool = False          # MinHash-LSH near-dup pass after exact
    near_dedup_min_jaccard: float = 0.7
    passage_dedup: bool = False       # winnowing passage-overlap pass
    passage_mode: str = "drop"        # 'drop' whole docs | 'strip' shared spans
    passage_min_containment: float = 0.6
    passage_min_shared: int = 3
    decontam_ngram: int = 8
    n_merges: int = 0          # 0 = whitespace token counts (no BPE pass)
    bpe_sample_docs: int = 200  # docs used to learn merges (vocab needs a sample)
    seq_len: int = 2048
    bucket_report: bool = False  # per-bucket padding-waste ledger in report
    n_shards: int = 8
    shard_format: str = "parquet"  # or 'jsonl' (trainer-loader streams)
    splits: tuple[float, float] = (0.8, 0.1)  # train, val (test = remainder)
    shuffle_salt: str = "shuffle"


def build_training_corpus(
    docs: DataFrame,
    out_dir: str,
    benchmark: DataFrame | None = None,
    config: CorpusConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lm_reference: DataFrame | None = None,
    dsir_target: DataFrame | None = None,
    clf_reference: DataFrame | None = None,
    host_blocklist: DataFrame | None = None,
) -> dict:
    """documents → (host blocklist) → (C4 line clean) → filter →
    (LM-ppl gate) → (classifier gate) →
    (DSIR select) → dedup → (near-dedup) → (passage-dedup) →
    (decontam) → split → tokenize → pack → shard write; returns the
    per-stage report dict.

    Output layout under ``out_dir``: ``train/`` (sharded, shuffled,
    with token counts and packed-sequence spans), ``val/`` and
    ``test/`` (plain parquet), plus the report's numbers as the caller's
    log line.  Deterministic end to end: same input + config → byte-
    identical shards (salted-hash split/shuffle, rank-based dedup,
    replayed BPE merges).
    """
    cfg = config or CorpusConfig()
    ppl_on = cfg.max_ppl is not None and lm_reference is not None
    clf_on = cfg.clf_keep_frac is not None and clf_reference is not None
    dsir_on = cfg.dsir_keep_frac is not None and dsir_target is not None
    decontam_on = benchmark is not None

    # The report holds each stage count as a thunk over its stage
    # frame's Observation, resolved once the last write has run.  A
    # frame the next stage reads twice is persisted, with its
    # observation right below the cache, so the fill counts each row
    # once and the second read is a cache scan; a frame read once is
    # only observed.  Everything persisted here is unpersisted before
    # return.
    report: dict = {}
    _cached: list[DataFrame] = []

    def _persist(df: DataFrame) -> DataFrame:
        df.persist()
        _cached.append(df)
        return df

    def _stage(key: str, df: DataFrame, reread: bool) -> DataFrame:
        observed = observe(df, key)
        report[key] = lambda: observed.metrics["rows"]
        return _persist(observed.frame) if reread else observed.frame

    docs = _stage("input_docs", docs, reread=False)

    if host_blocklist is not None and cfg.url_col is not None:
        # URL-level curation first (RefinedWeb §3.1): cheapest gate,
        # runs before any text is tokenized
        from mongo2mysql_spark.operators.urls import host_blocklist_filter

        docs = _stage(
            "after_host_blocklist",
            host_blocklist_filter(docs, host_blocklist, cfg.url_col),
            reread=False,
        )

    if cfg.html_strip:
        # raw-web ingestion: reduce HTML to visible text before any
        # text statistics (a narrow projection, merges into the scan)
        from mongo2mysql_spark.operators.html import strip_html

        docs = docs.withColumn(text_col, strip_html(F.col(text_col)))

    if cfg.c4_line_clean:
        # structural line/page cleaning before quality scoring — the
        # C4 ordering (junk lines would otherwise skew quality stats)
        from mongo2mysql_spark.operators.c4 import c4_keep

        docs = _stage(
            "after_c4_clean",
            c4_keep(docs, text_col, word_blocklist=cfg.c4_word_blocklist),
            reread=False,
        )

    toks = tokens(F.col(text_col))
    scored = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.size(toks).alias("n_tokens"),
        quality_score(toks, F.col(text_col)).alias("quality"),
        dup_token_fraction(toks).alias("dup_frac"),
        fingerprint(toks).alias("__fp"),
    )
    kept = _stage(
        "after_quality_filter",
        scored.filter(
            (F.col("quality") >= cfg.min_quality)
            & (F.col("n_tokens") >= cfg.min_tokens)
            & (F.col("dup_frac") <= cfg.max_dup_fraction)
        ),
        reread=ppl_on or clf_on or dsir_on,
    )

    if ppl_on:
        # model-based fluency gate (CCNet shape, operators/lm.py): train
        # the reference bigram LM, drop docs above the perplexity cap;
        # unscorable (< 2-token) docs pass — the length filter owns them
        from mongo2mysql_spark.operators.lm import lm_perplexity, train_bigram_lm

        bg, ug, vocab = train_bigram_lm(
            lm_reference, id_col, text_col, lazy_vocab=True, fused=True
        )
        ppl = lm_perplexity(kept, id_col, text_col, bg, ug, vocab).select(
            id_col, "ppl"
        )
        kept = _stage(
            "after_ppl_filter",
            kept.join(ppl, id_col, "left").filter(
                F.col("ppl").isNull() | (F.col("ppl") <= cfg.max_ppl)
            ).drop("ppl"),
            reread=clf_on or dsir_on,
        )

    if clf_on:
        # discriminative quality gate (operators/classifier.py — the
        # GPT-3 Appendix-A recipe): train reference-vs-corpus-sample
        # logistic regression on hashed-n-gram frequencies, keep the
        # top fraction by linear score (percentile cut, ties keep).
        # Reference ids are offset into their own space so a reference
        # that IS a slice of the corpus can't collide with negatives.
        from mongo2mysql_spark.operators.classifier import (
            normalized_features,
            score_documents,
            train_quality_classifier,
        )
        from mongo2mysql_spark.operators.dsir import bucket_counts, hashed_grams
        from mongo2mysql_spark.operators.sampling import hash_sample_flag

        corpus_feats = _persist(
            normalized_features(
                bucket_counts(hashed_grams(kept, id_col, text_col), id_col),
                id_col,
            )
        )
        neg_ids = kept.select(id_col).filter(
            hash_sample_flag(F.col(id_col), cfg.clf_negative_frac, salt="clfneg") == 1
        )
        ref_feats = normalized_features(
            bucket_counts(
                hashed_grams(
                    clf_reference.select(
                        (F.col(id_col) + F.lit(10**12)).alias(id_col),
                        F.col(text_col),
                    ),
                    id_col,
                    text_col,
                ),
                id_col,
            ),
            id_col,
        )
        train_feats = corpus_feats.join(neg_ids, id_col).unionByName(ref_feats)
        train_labels = train_feats.select(id_col).distinct().withColumn(
            "y", (F.col(id_col) >= 10**12).cast("int")
        )
        wdf, bias, _losses = train_quality_classifier(
            train_feats, train_labels, id_col, "y", n_iters=cfg.clf_iters
        )
        clf_scores = _persist(
            score_documents(corpus_feats, wdf, bias, id_col).select(
                id_col, F.col("score").alias("__clf")
            )
        )
        clf_cut = clf_scores.agg(
            F.expr(f"percentile(__clf, {1.0 - cfg.clf_keep_frac})")
        ).first()[0]
        kept = _stage(
            "after_classifier_gate",
            kept.join(
                clf_scores.filter(F.col("__clf") >= clf_cut).select(id_col), id_col
            ),
            reread=dsir_on,
        )

    if dsir_on:
        # DSIR selection (operators/dsir.py): keep the docs most like the
        # target domain.  The cut is a weight threshold from an exact
        # distributed percentile — no global sort, no driver-side top-k;
        # ties AT the threshold all keep (documented over-selection)
        from mongo2mysql_spark.operators.dsir import (
            bucket_counts,
            bucket_log_ratio,
            dsir_weights,
            hashed_grams,
        )

        counts = _persist(bucket_counts(hashed_grams(kept, id_col, text_col), id_col))
        tcounts = bucket_counts(hashed_grams(dsir_target, id_col, text_col), id_col)
        weights = _persist(
            dsir_weights(counts, bucket_log_ratio(tcounts, counts), id_col)
            .select(id_col, F.col("weight").cast("double").alias("__w"))
        )
        cut = weights.agg(
            F.expr(f"percentile(__w, {1.0 - cfg.dsir_keep_frac})")
        ).first()[0]
        kept = _stage(
            "after_dsir_select",
            kept.join(weights.filter(F.col("__w") >= cut).drop("__w"), id_col),
            reread=False,
        )

    deduped = _stage(
        "after_exact_dedup",
        dedup_exact(kept, ["__fp"], id_col).drop("__fp"),
        reread=cfg.near_dedup or cfg.passage_dedup or decontam_on,
    )

    if cfg.near_dedup:
        # MinHash-LSH candidate pairs -> connected components -> keep the
        # min-id representative of each near-dup group (same keeper
        # contract as exact dedup; banding keeps this far from all-pairs)
        from mongo2mysql_spark.functions.text import word_shingles
        from mongo2mysql_spark.operators.components import connected_components
        from mongo2mysql_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signature,
        )

        sig = minhash_signature(
            deduped, id_col, word_shingles(tokens(F.col(text_col)), 3)
        )
        pairs = lsh_candidate_pairs(
            sig, id_col, min_est_jaccard=cfg.near_dedup_min_jaccard
        )
        comp = connected_components(pairs, "id_1", "id_2")
        drop = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
        deduped = _stage(
            "after_near_dedup",
            deduped.join(drop, id_col, "left_anti"),
            reread=cfg.passage_dedup or decontam_on,
        )

    if cfg.passage_dedup and cfg.passage_mode == "strip":
        # substring-level pass (operators/passages.py): locate each
        # pair's shared region and strip it from the doc_a side — the
        # corpus keeps exactly one copy of the passage and every
        # document's unique content survives; docs reduced below the
        # length floor fall out like any other short doc
        from mongo2mysql_spark.operators.passages import (
            shared_passage_spans,
            strip_passage_spans,
        )

        spans = shared_passage_spans(
            deduped, id_col, text_col, min_anchors=cfg.passage_min_shared
        )
        stripped = strip_passage_spans(deduped, spans, id_col, text_col)
        deduped = _stage(
            "after_passage_strip",
            stripped.withColumn(
                "n_tokens",
                F.col("n_tokens_before") - F.col("n_stripped_tokens"),
            ).filter(F.col("n_tokens") >= cfg.min_tokens)
            .drop("n_tokens_before", "n_stripped_tokens"),
            reread=decontam_on,
        )
    elif cfg.passage_dedup:
        # passage-overlap pass (operators/passages.py): documents whose
        # winnowing fingerprints are largely contained in another's are
        # grouped (connected components) and reduced to the min-id
        # representative — same keeper contract as the other dedup tiers
        from mongo2mysql_spark.operators.components import connected_components
        from mongo2mysql_spark.operators.passages import passage_dup_pairs

        ppairs = passage_dup_pairs(
            deduped, id_col, text_col,
            min_shared=cfg.passage_min_shared,
        ).filter(F.col("containment") >= cfg.passage_min_containment)
        pcomp = connected_components(ppairs, "doc_a", "doc_b")
        pdrop = pcomp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
        deduped = _stage(
            "after_passage_dedup",
            deduped.join(pdrop, id_col, "left_anti"),
            reread=decontam_on,
        )

    if decontam_on:
        deduped = _stage(
            "after_decontam",
            remove_contaminated(
                deduped, benchmark, id_col=id_col, text_col=text_col,
                n=cfg.decontam_ngram,
            ),
            reread=False,
        )

    train_frac, val_frac = cfg.splits
    split = F.col("split")
    splits = observe(
        deduped.withColumn("split", hash_split(F.col(id_col), train_frac, val_frac)),
        "splits",
        **{f"{name}_docs": F.count(F.when(split == name, 1)) for name in ("train", "val", "test")},
    )
    for name in ("train", "val", "test"):
        report[f"{name}_docs"] = lambda key=f"{name}_docs": splits.metrics[key]
    with_split = _persist(splits.frame)
    train = with_split.filter("split = 'train'").drop("split")

    if cfg.n_merges > 0:
        # Deterministic sample: rank by a salted hash of the doc id, not
        # an unordered LIMIT — the learned vocabulary is identical under
        # any partition layout (repartition(7) ≡ default, tested).
        bpe_sample = (
            train.orderBy(
                F.xxhash64(F.col(id_col), F.lit("bpe_sample")), F.col(id_col)
            )
            .limit(cfg.bpe_sample_docs)
        )
        merges = learn_merges(
            word_freq_table(bpe_sample, text_col),
            n_merges=cfg.n_merges,
        )
        report["bpe_merges"] = len(merges)
        train = apply_merges(train, merges, text_col).withColumn(
            "n_train_tokens", F.size("bpe_symbols")
        ).drop("bpe_symbols")
    else:
        train = train.withColumn("n_train_tokens", F.col("n_tokens"))

    # one observation below the shard write's exchange: packing keeps
    # every train row, so its token sum is the train split's
    packed = observe(
        pack_sequences(train, "n_train_tokens", id_col, seq_len=cfg.seq_len),
        "packed",
        train_tokens=F.coalesce(F.sum("n_train_tokens"), F.lit(0)),
        # an empty train split (everything filtered/deduped away)
        # reports n_sequences = 0
        n_sequences=F.coalesce(F.max("last_seq") + 1, F.lit(0)),
    )
    report["train_tokens"] = lambda: int(packed.metrics["train_tokens"])
    if cfg.bucket_report:
        # padding-waste ledger (operators/packing.length_buckets): what
        # the same train split would cost under length-bucketed dynamic
        # batching instead of packing — one narrow projection + one
        # partial-aggregating groupBy, ladder-sized collect
        from mongo2mysql_spark.operators.packing import length_buckets

        ledger = (
            length_buckets(train, "n_train_tokens", id_col, cfg.seq_len)
            .groupBy("bucket_len")
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("pad_tokens").alias("pad_tokens"),
            )
            .collect()
        )
        report["length_buckets"] = {
            int(r["bucket_len"]): {
                "docs": int(r["docs"]),
                "pad_tokens": int(r["pad_tokens"]),
            }
            for r in sorted(ledger, key=lambda r: r["bucket_len"])
        }
        report["padding_waste_tokens"] = sum(
            v["pad_tokens"] for v in report["length_buckets"].values()
        )
    report["n_sequences"] = lambda: packed.metrics["n_sequences"]

    write_training_shards(
        packed.frame, os.path.join(out_dir, "train"), id_col,
        n_shards=cfg.n_shards, salt=cfg.shuffle_salt, fmt=cfg.shard_format,
    )
    for name in ("val", "test"):
        with_split.filter(F.col("split") == name).drop("split").write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, name))
    report = {k: v() if callable(v) else v for k, v in report.items()}
    for df in _cached:
        df.unpersist()
    report["n_shards"] = cfg.n_shards
    return report
