"""Skew mitigation: salting for hot groups (SURVEY.md §4 scale levers).

Document-database key distributions are Zipfian (the reference's own
``$allKeys`` tally, Porter.php:328-332) — one group can dominate.
AQE's skew-join splitting handles the join case; this module handles
per-group top-k, whose plain window sends each group to one reducer,
with a two-phase salted ranking.

A pure DataFrame composition; correctness is independent of the salt
count (tested), so the salt is a pure throughput knob.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def salted_topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    salt_buckets: int = 16,
) -> DataFrame:
    """Top-k per group without a low-cardinality window bottleneck.

    ``row_number() OVER (PARTITION BY group)`` sends each group to ONE
    reducer — with few groups (brands: ~25) that is a handful of
    reducers sorting the whole table.  Two-phase instead: phase 1 takes
    a LOCAL top-k within (group, salt) — ``salt_buckets`` reducers per
    group, each sorting 1/s of it — phase 2 re-ranks the s·k survivors
    per group (tiny).  The group top-k is a subset of the union of its
    salt-bucket top-ks, so results are exactly the plain window's
    (given a deterministic total order in ``order_cols``).

    Output: input columns + ``rank`` (1-based) ∈ [1, k].
    """
    salt = F.spark_partition_id() % salt_buckets
    w1 = W.partitionBy(*group_cols, "__salt").orderBy(*order_cols)
    w2 = W.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("__salt", salt)
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .drop("__salt", "__rn")
    )
