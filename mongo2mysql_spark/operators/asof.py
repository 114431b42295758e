"""Backward as-of join — an operator Spark lacks natively.

Implemented as the classic union-sort-window technique, NOT a range
cross-join:

1. union the right rows (tagged) with the left rows, right-side value
   columns null on the left rows;
2. one window per key ordered by (ts, right-first):
   ``last(value, ignorenulls=True)`` over unbounded-preceding..current
   carries the most recent right row forward;
3. keep only left rows.

Cost shape: ONE shuffle on the join key + a sort within partitions —
the same as a regular sort-merge join, linear in |L|+|R|.  A naive
``l.ts >= r.ts`` inequality join is a broadcast-nested-loop (O(|L|·|R|))
and is exactly what this operator exists to avoid at 100 TB.

Determinism: the right side must be unique per (key, ts) — callers
pre-aggregate ties (the oracle, DuckDB's native ASOF JOIN, is otherwise
free to pick any tied row).  Inclusive semantics (a right row at
exactly left.ts matches), mirroring DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def _check_contract(fn: str, left: DataFrame, value_cols: list[str]) -> None:
    overlap = set(value_cols) & set(left.columns)
    if overlap:
        raise ValueError(
            f"{fn}: value_cols {sorted(overlap)} collide with "
            "left columns; rename the right-side value columns first"
        )
    reserved = {"__ts", "__is_r", "__r_ts"} & (set(left.columns) | set(value_cols))
    if reserved:
        raise ValueError(f"{fn}: reserved column names in use: {sorted(reserved)}")


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Left as-of join: each left row gets the right row with the
    greatest ``right_ts`` ≤ its ``left_ts`` (per key), or nulls.

    Output: all left columns + ``value_cols`` from the matched right row.

    ``value_cols`` must be disjoint from the left columns: the union
    aligns shared names, so a left row would otherwise carry its OWN
    values into the ignorenulls carry-forward (silent corruption) and
    the output would emit duplicate column names.  Enforced here rather
    than implied.
    """
    _check_contract("asof_join_backward", left, value_cols)
    l_tagged = left.withColumn("__ts", F.col(left_ts)).withColumn("__is_r", F.lit(0))
    r_tagged = (
        right.select(
            F.col(key),
            F.col(right_ts).alias("__ts"),
            *[F.col(c) for c in value_cols],
        )
        .withColumn("__is_r", F.lit(1))
    )
    combined = l_tagged.unionByName(r_tagged, allowMissingColumns=True)

    # right rows sort BEFORE left rows at equal ts (desc on the tag), so
    # a right row at exactly left.ts is visible to that left row
    w = (
        W.partitionBy(key)
        .orderBy(F.col("__ts"), F.desc("__is_r"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = combined.select(
        "*",
        *[
            F.last(F.col(c), ignorenulls=True).over(w).alias(f"__asof_{c}")
            for c in value_cols
        ],
    )
    out_cols = [F.col(c) for c in left.columns] + [
        F.col(f"__asof_{c}").alias(c) for c in value_cols
    ]
    return carried.filter(F.col("__is_r") == 0).select(*out_cols)
