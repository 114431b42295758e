"""Count-min sketch (extension layer): approximate per-key frequencies
in fixed memory, without an exact full-cardinality count.

Cormode & Muthukrishnan, "An Improved Data Stream Summary: The
Count-Min Sketch and its Applications" (J. Algorithms 2005): a depth x
width counter matrix; each key increments one bucket per row (depth
independent hashes); a key's estimate is the MIN over its depth
buckets.  Guarantees: estimate >= true count always (only collisions
inflate), and estimate <= true + (e/width)*N with probability
1 - exp(-depth).

Spark shape: the sketch IS a DataFrame of (d, bucket, c) — depth*width
rows max, independent of key cardinality.  Building it is one narrow
explode (depth rows per input row) + one partially-aggregated groupBy;
two sketches MERGE by union + re-aggregate (counter matrices add),
which is what makes per-partition / per-day sketch partials roll up
without rescanning raw data — same story as the DataSketches HLL
partials in agg_approx_sketches.  Hashes are the portable Carter-Wegman
rehash over the 48-bit md5 base hash (operators/dedup.py constants), so
sketches are bit-identical run-to-run and engine-to-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo2mysql_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    minhash_base_hash,
)


def _bucket(base: Column, d: int, width: int) -> Column:
    """Row-d bucket for a base-hashed key (exact int64 arithmetic)."""
    return (
        (F.lit(MINHASH_A[d]) * base + F.lit(MINHASH_B[d])) % MINHASH_P % width
    ).cast("int")


def countmin_build(
    df: DataFrame, key: Column, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Build a count-min sketch over ``key``: returns (d, bucket, c) —
    at most depth*width rows, whatever the input size."""
    assert depth <= len(MINHASH_A)
    base = minhash_base_hash(key.cast("string"))
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), _bucket(base, d, width).alias("bucket")
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__cell")
    )
    return cells.groupBy(
        F.col("__cell.d").alias("d"), F.col("__cell.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("c"))


def countmin_merge(*sketches: DataFrame) -> DataFrame:
    """Counter matrices add: union + re-aggregate.  sketch(A) merged
    with sketch(B) equals sketch(A union B) exactly (tested)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "bucket").agg(F.sum("c").alias("c"))


def countmin_estimate(
    keys: DataFrame, sketch: DataFrame, key: Column, depth: int = 4,
    width: int = 1024, out_col: str = "est",
) -> DataFrame:
    """Estimate each key's count: min over its depth buckets.  The
    sketch (depth*width rows) broadcasts; keys stream through one
    narrow join per depth row folded into a single melt + min-agg."""
    base = minhash_base_hash(key.cast("string"))
    melted = keys.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), _bucket(base, d, width).alias("bucket")
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__cell"),
    ).select("*", F.col("__cell.d").alias("d"), F.col("__cell.bucket").alias("bucket"))
    joined = melted.join(F.broadcast(sketch), ["d", "bucket"], "left")
    group_cols = [c for c in keys.columns]
    return (
        joined.groupBy(*group_cols)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias(out_col))
    )
