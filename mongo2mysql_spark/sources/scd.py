"""Slowly-changing-dimension type 2 (SCD2) maintenance — lake-layer
extension (SURVEY.md §2 'Scans/sources/sinks'; no reference analogue —
the reference's sink is REPLACE-on-PK, i.e. SCD type 1: Porter.php:207
overwrites history; this operator is the versioned alternative a
training-data pipeline needs to answer "what did this dimension say
when that dataset was built?").

A dimension row's lifetime is a chain of versions:
``(key, attrs..., valid_from, valid_to, is_current)`` where exactly one
version per key is open (``valid_to IS NULL, is_current``).  Applying a
change batch:

- key absent from the dimension → insert an open version;
- key present, attributes unchanged (null-safe) → no-op;
- key present, attributes changed → close the open version at the
  batch's effective time and insert a new open version.

Plan shape: ONE left join of the dimension against the (deduplicated)
batch on the key — change batches are small next to the dimension, so
Catalyst broadcasts them — then a single projection that routes each
row to carry-through / close / reopen; new keys arrive via one
anti-join union.  No window over the dimension, no global sort.

Idempotent by construction: re-applying a batch finds every change
already recorded (attributes equal on the open version) and produces
bit-identical output — the lake-side analogue of A15's REPLACE
idempotence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

VALID_FROM = "valid_from"
VALID_TO = "valid_to"
IS_CURRENT = "is_current"


def scd2_init(snapshot: DataFrame, effective: str) -> DataFrame:
    """Bootstrap a dimension from a snapshot: every row becomes an open
    version effective at ``effective`` (ISO timestamp string or column
    name present in the snapshot)."""
    eff = (
        F.col(effective)
        if effective in snapshot.columns
        else F.lit(effective).cast("timestamp")
    )
    base = snapshot.drop(effective) if effective in snapshot.columns else snapshot
    return (
        base.withColumn(VALID_FROM, eff.cast("timestamp"))
        .withColumn(VALID_TO, F.lit(None).cast("timestamp"))
        .withColumn(IS_CURRENT, F.lit(True))
    )


def _latest_per_key(updates: DataFrame, key_cols: list[str], effective_col: str,
                    compare_cols: list[str]) -> DataFrame:
    """One change per key per batch: keep the latest effective row,
    tie-broken deterministically on the attribute values."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(effective_col).desc(), *[F.col(c).desc_nulls_last() for c in compare_cols]
    )
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
    effective_col: str,
) -> DataFrame:
    """Apply one change batch; returns the full new dimension frame.

    ``dim`` must carry ``valid_from/valid_to/is_current`` (see
    ``scd2_init``); ``updates`` carries ``key_cols + compare_cols +
    effective_col``.  History rows (closed versions) pass through
    untouched.
    """
    batch = _latest_per_key(updates, key_cols, effective_col, compare_cols)
    up = batch.select(
        *[F.col(k).alias(f"__k_{k}") for k in key_cols],
        *[F.col(c).alias(f"__u_{c}") for c in compare_cols],
        F.col(effective_col).cast("timestamp").alias("__eff"),
    )
    key_cond = [F.col(k).eqNullSafe(F.col(f"__k_{k}")) for k in key_cols]
    joined = dim.join(F.broadcast(up), _and(key_cond), "left")

    changed = F.col("__eff").isNotNull() & F.col(IS_CURRENT) & ~_and(
        [F.col(c).eqNullSafe(F.col(f"__u_{c}")) for c in compare_cols]
    )
    # existing rows: history and unchanged pass through; a changed open
    # version closes at the batch effective time
    existing = joined.select(
        *key_cols,
        *compare_cols,
        F.col(VALID_FROM),
        F.when(changed, F.col("__eff")).otherwise(F.col(VALID_TO)).alias(VALID_TO),
        F.when(changed, F.lit(False)).otherwise(F.col(IS_CURRENT)).alias(IS_CURRENT),
    )
    # reopened versions for changed keys + first versions for new keys
    open_rows = dim.filter(F.col(IS_CURRENT)).select(
        *key_cols, *[F.col(c).alias(f"__cur_{c}") for c in compare_cols]
    )
    with_cur = batch.join(F.broadcast(open_rows), key_cols, "left")
    # a key is NEW if it has no open version; CHANGED if the open version
    # differs — both insert an open row effective at the batch time
    new_keys = batch.join(open_rows.select(*key_cols), key_cols, "left_anti")
    changed_keys = with_cur.join(open_rows.select(*key_cols), key_cols, "left_semi").filter(
        ~_and([F.col(c).eqNullSafe(F.col(f"__cur_{c}")) for c in compare_cols])
    )
    inserts = new_keys.unionByName(changed_keys.select(*new_keys.columns)).select(
        *key_cols,
        *compare_cols,
        F.col(effective_col).cast("timestamp").alias(VALID_FROM),
        F.lit(None).cast("timestamp").alias(VALID_TO),
        F.lit(True).alias(IS_CURRENT),
    )
    return existing.unionByName(inserts)


def _and(conds):
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def scd2_lookup(dim: DataFrame, as_of: str) -> DataFrame:
    """Point-in-time view: the version of every key valid at ``as_of``
    (ISO timestamp) — the join target for 'rebuild the dataset exactly
    as of run X'."""
    ts = F.lit(as_of).cast("timestamp")
    return dim.filter(
        (F.col(VALID_FROM) <= ts)
        & (F.col(VALID_TO).isNull() | (F.col(VALID_TO) > ts))
    ).drop(VALID_TO, IS_CURRENT)
