"""Mergeable Bloom-filter membership (extension layer).

The at-scale membership structure for corpus curation: decontamination
against a benchmark set, incremental exact-dedup pre-filtering, URL
seen-sets.  A Bloom filter with m bits and k hash functions answers
"possibly seen" with zero false negatives and a tunable false-positive
rate (Bloom, CACM 1970); because the filter is just the SET of set bit
positions, it is naturally relational here:

- the filter is a 1-column DataFrame of distinct bit positions (a few
  KB per million keys at practical m) — broadcast-size by design;
- **build** is one explode (k md5-derived positions per key) + distinct;
- **merge** of independently built filters is a set union — the classic
  mergeable-partial contract (same as the HLL/CMS operators), so
  per-shard filters built by different ingest jobs combine losslessly;
- **probe** explodes each candidate's k positions, broadcast-joins the
  filter and keeps candidates with all k present.

Scale shape: the corpus side is one narrow explode + one broadcast
join + one partial-aggregated groupBy — the same plan as
operators/decontam.py, but the right side is the fixed-size filter
instead of the raw key set, which is the point: at 100 TB the seen-set
no longer needs to fit as exact keys, only as m bits.

Determinism: positions are 48-bit md5-prefix integers mod m (the
portable hash recipe of functions/text.shingle_hashes), so Spark and
the DuckDB oracle build bit-identical filters; counts and booleans are
exact — a hashed `n_bloom_hits` is hard cross-engine signal, and the
no-false-negative guarantee is stated as a TRUE verdict in the oracle
(queries/corpus.py 'bloom' branch).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BLOOM_M_BITS = 1 << 16
BLOOM_K = 3


def bloom_position(item: Column, j: int, m_bits: int = BLOOM_M_BITS) -> Column:
    """Bit position of hash function ``j`` for ``item`` — 48-bit
    md5-prefix integer of '<item>#<j>' mod m.  DuckDB mirror:
    CAST('0x' || substr(md5(CAST(x AS VARCHAR) || '#j'), 1, 12) AS
    BIGINT) % m."""
    salted = F.concat(item.cast("string"), F.lit(f"#{j}"))
    return (
        F.conv(F.substring(F.md5(salted), 1, 12), 16, 10).cast("long") % m_bits
    )


def bloom_build(
    keys: DataFrame,
    key_col: str,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Build the filter from a key DataFrame: the distinct set of bit
    positions, as a 1-column ('pos') DataFrame.  One explode + one
    distinct; output cardinality is bounded by m, not by the keys."""
    return keys.select(
        F.explode(
            F.array(*[bloom_position(F.col(key_col), j, m_bits) for j in range(k)])
        ).alias("pos")
    ).distinct()


def bloom_probe(
    candidates: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Per distinct candidate key: ``maybe_member`` (all k positions
    set).  Never a false negative; false positives at the standard
    (1 - e^{-kn/m})^k rate.  The filter is broadcast — the candidate
    side shuffles only on its own partial aggregation."""
    probes = candidates.select(key_col).distinct()
    exploded = probes.select(
        F.col(key_col),
        F.explode(
            F.array(*[bloom_position(F.col(key_col), j, m_bits) for j in range(k)])
        ).alias("pos"),
    )
    marked = bloom.withColumn("__in", F.lit(1))
    return (
        exploded.join(F.broadcast(marked), "pos", "left")
        .groupBy(key_col)
        .agg((F.count("__in") == k).alias("maybe_member"))
    )


def bloom_hit_counts(
    candidates: DataFrame,
    bloom: DataFrame,
    id_col: str,
    key_col: str,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Per ``id_col``: how many of its (distinct-per-id) ``key_col``
    values are possibly in the filter — in ONE pass over the candidate
    stream.  Equivalent to ``candidates JOIN bloom_probe(candidates)
    ON key GROUP BY id`` when each id's keys are distinct (tested), but
    without materializing the candidate stream twice: the k positions
    explode inline, the filter broadcast-joins, and two partial-
    aggregated groupBys ((id, key) then id) reduce — no distinct-key
    shuffle, no key-join shuffle.  Output: (id_col, n_hits)."""
    exploded = candidates.select(
        F.col(id_col),
        F.col(key_col),
        F.explode(
            F.array(*[bloom_position(F.col(key_col), j, m_bits) for j in range(k)])
        ).alias("pos"),
    )
    marked = bloom.withColumn("__in", F.lit(1))
    return (
        exploded.join(F.broadcast(marked), "pos", "left")
        .groupBy(id_col, key_col)
        .agg((F.count("__in") == k).alias("__member"))
        .groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("__member"), 1).otherwise(0))
            .cast("long")
            .alias("n_hits")
        )
    )
