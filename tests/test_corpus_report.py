"""The corpus builder's report, pinned.

``pipelines.build_training_corpus`` collects its stage counts from
Observations on the actions that run anyway, instead of one count per
stage.  Observations misbehave exactly where these configurations go:
under a host-blocklist broadcast join and the C4 filter, under the
optional gates, around the connected-components rounds, and in a
pipeline whose stages come out empty (where AQE drops the collectors).
Each report must equal, keys, key order and values, the one the
count-per-stage builder gave for the same input, and the train shards
must hold the same rows.
"""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from mongo2mysql_spark.pipelines import CorpusConfig, build_training_corpus
from mongo2mysql_spark.sources import load_table
from mongo2mysql_spark.sources.lake import parquet_files
from tests.conftest import SF_DIR

VOCAB = (
    "the of and to in is that for it as with was on be by this are or from at "
    "which an have river stone garden market winter letter window engine harbor "
    "forest valley signal doctor mountain village bridge painter lantern ocean "
    "cabinet meadow thunder candle orchard"
).split()


def _pages(spark):
    """Multi-line pages with hosts: every fifth on a blocked host, some
    with a junk line C4 strips, a lorem line that drops the page, or
    too few lines; ten exact duplicates."""
    rng = random.Random(7)

    def page(i):
        lines = [
            " ".join(rng.choice(VOCAB) for _ in range(9)).capitalize() + "."
            for _ in range(5)
        ]
        if i % 4 == 1:
            lines.append("click here now")
        if i % 9 == 2:
            lines.append("Lorem ipsum dolor sit amet.")
        if i % 11 == 3:
            lines = lines[:1]
        return "\n".join(lines)

    texts = [page(i) for i in range(120)]
    rows = list(enumerate(texts)) + [(500 + i, texts[i]) for i in range(0, 40, 4)]
    host = F.when(F.col("doc_id") % 5 == 0, "spam.biz").otherwise("ok.com")
    return spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "url", F.concat(F.lit("https://"), host, F.lit("/"), F.col("doc_id").cast("string"))
    )


def _blocklist_c4(spark):
    return _pages(spark), dict(
        config=CorpusConfig(url_col="url", c4_line_clean=True, min_tokens=5, seq_len=128, n_shards=2),
        host_blocklist=spark.createDataFrame([("spam.biz",)], "host string"),
    )


def _ppl_dsir_strip(spark):
    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text").filter("doc_id < 200")
    clones = base.filter("doc_id % 25 = 0").select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" clonedmarker alpha beta")).alias("text"),
    )
    return base.unionByName(clones), dict(
        config=CorpusConfig(
            max_ppl=1e9, dsir_keep_frac=0.5, passage_dedup=True, passage_mode="strip",
            passage_min_shared=2, seq_len=256, n_shards=2,
        ),
        lm_reference=base.filter("doc_id % 7 = 0"),
        dsir_target=base.filter("doc_id % 11 = 0"),
    )


def _near_passage_decontam(spark):
    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text").filter("doc_id < 200")
    near = base.filter("doc_id % 20 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" shifted")).alias("text"),
    )
    return base.unionByName(near), dict(
        config=CorpusConfig(
            near_dedup=True, near_dedup_min_jaccard=0.6, passage_dedup=True,
            passage_min_containment=0.5, passage_min_shared=2, bucket_report=True,
            n_merges=2, bpe_sample_docs=30, seq_len=256, n_shards=2,
        ),
        benchmark=base.filter("doc_id % 31 = 0").limit(4),
    )


def _all_filtered(spark):
    docs = spark.createDataFrame([(i, "tiny doc") for i in range(30)], "doc_id long, text string")
    return docs, dict(config=CorpusConfig())


# (inputs, report, digest of the sorted train rows; None = no train rows)
PINNED = {
    "blocklist_c4": (_blocklist_c4, {
        "input_docs": 130, "after_host_blocklist": 104, "after_c4_clean": 84,
        "after_quality_filter": 84, "after_exact_dedup": 77, "train_docs": 65,
        "val_docs": 5, "test_docs": 7, "train_tokens": 2665, "n_sequences": 21,
        "n_shards": 2,
    }, "8d53fde7367c974f"),
    "ppl_dsir_strip": (_ppl_dsir_strip, {
        "input_docs": 208, "after_quality_filter": 134, "after_ppl_filter": 134,
        "after_dsir_select": 67, "after_exact_dedup": 66, "after_passage_strip": 62,
        "train_docs": 50, "val_docs": 7, "test_docs": 5, "train_tokens": 1717,
        "n_sequences": 7, "n_shards": 2,
    }, "74a964fd5f539418"),
    "near_passage_decontam": (_near_passage_decontam, {
        "input_docs": 210, "after_quality_filter": 137, "after_exact_dedup": 135,
        "after_near_dedup": 125, "after_passage_dedup": 125, "after_decontam": 123,
        "train_docs": 101, "val_docs": 13, "test_docs": 9, "bpe_merges": 2,
        "train_tokens": 25499,
        "length_buckets": {128: {"docs": 10, "pad_tokens": 104}, 256: {"docs": 91, "pad_tokens": 2900}},
        "padding_waste_tokens": 3004, "n_sequences": 100, "n_shards": 2,
    }, "37ed9c5660015293"),
    "all_filtered": (_all_filtered, {
        "input_docs": 30, "after_quality_filter": 0, "after_exact_dedup": 0,
        "train_docs": 0, "val_docs": 0, "test_docs": 0, "train_tokens": 0,
        "n_sequences": 0, "n_shards": 8,
    }, None),
}


def _train_digest(spark, path):
    cols = ["doc_id", "n_train_tokens", "first_seq", "first_offset", "last_seq", "n_seqs",
            "shard", "shuffle_rank"]
    if not parquet_files(path):  # an empty split writes no file
        return None
    rows = spark.read.parquet(path).select(*cols).collect()
    return hashlib.sha256(repr(sorted(map(tuple, rows))).encode()).hexdigest()[:16]


@pytest.mark.parametrize("name", list(PINNED))
def test_corpus_report_is_pinned(spark, tmp_path, name):
    inputs, want, digest = PINNED[name]
    docs, kwargs = inputs(spark)
    report = build_training_corpus(docs, str(tmp_path / "out"), **kwargs)
    assert list(report.items()) == list(want.items())
    assert _train_digest(spark, str(tmp_path / "out" / "train")) == digest
