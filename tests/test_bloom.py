"""Mergeable Bloom filter (operators/bloom.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mongo2mysql_spark.operators.bloom import bloom_build, bloom_probe

M, K = 1 << 12, 3


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").cast("string").alias("k"))


def test_no_false_negatives(spark):
    keys = _keys(spark, 0, 200)
    fltr = bloom_build(keys, "k", m_bits=M, k=K)
    probed = bloom_probe(keys, fltr, "k", m_bits=M, k=K)
    assert probed.filter(~F.col("maybe_member")).count() == 0


def test_false_positive_rate_bounded(spark):
    fltr = bloom_build(_keys(spark, 0, 200), "k", m_bits=M, k=K)
    # 2000 keys disjoint from the build set
    outside = _keys(spark, 10_000, 12_000)
    fp = bloom_probe(outside, fltr, "k", m_bits=M, k=K).filter(
        F.col("maybe_member")
    )
    # n=200, k=3, m=4096 -> p ~ (1 - e^(-600/4096))^3 ~ 0.26%; allow 5x
    assert fp.count() <= 2000 * 0.013


def test_hit_counts_match_probe_join_composition(spark):
    """bloom_hit_counts (the one-pass per-id form the decontam slot
    serves) equals the probe-then-join composition it replaced, on a
    stream with per-id-distinct keys, members and non-members mixed."""
    from mongo2mysql_spark.operators.bloom import bloom_hit_counts

    fltr = bloom_build(_keys(spark, 0, 200), "k", m_bits=M, k=K)
    # 30 ids x 40 distinct keys each; roughly half inside the build set
    cand = spark.range(1200).select(
        (F.col("id") % 30).alias("i"),
        ((F.col("id") * 7919) % 400).cast("string").alias("k"),
    ).distinct()
    got = {
        (r["i"], r["n_hits"])
        for r in bloom_hit_counts(
            cand, fltr, "i", "k", m_bits=M, k=K
        ).collect()
    }
    member = bloom_probe(cand, fltr, "k", m_bits=M, k=K)
    want = {
        (r["i"], r["n"])
        for r in cand.join(member, "k")
        .groupBy("i")
        .agg(
            F.sum(F.when(F.col("maybe_member"), 1).otherwise(0))
            .cast("long")
            .alias("n")
        )
        .collect()
    }
    assert got == want


def test_filter_is_broadcast_sized(spark):
    fltr = bloom_build(_keys(spark, 0, 500), "k", m_bits=M, k=K)
    n = fltr.count()
    assert n <= min(500 * K, M)
    assert fltr.distinct().count() == n
