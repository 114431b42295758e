"""Corpus snapshot diff — dataset-version comparison (extension layer;
no reference analogue — the reference overwrites in place via REPLACE,
Porter.php:207, so "what changed since the last export" is unanswerable
there; this operator answers it for any two parquet snapshots).

Training-data pipelines version their corpora: before shipping
dataset v(N+1) you want the delta vs v(N) — how many documents were
added, removed, or edited, and which ones — both as an audit artifact
and as the input to incremental downstream work (re-embed only changed
docs, re-run decontam only on additions).

Plan shape: ONE full-outer join on the key.  Change detection compares
a single 64-bit fingerprint per side (``xxhash64`` over the compared
columns, computed in the scan projection), so the join carries
key + hash — a few bytes per row regardless of document width — and
wide text/binary columns are pruned from the shuffle entirely.  The
summary is one groupBy over the status column.  At 100 TB both sides
shuffle once on the key; with both snapshots bucketed on the key,
the join plans with zero Exchange.

``include_cols`` on the detail frame re-joins the changed keys back to
the snapshots to fetch full rows — keys-first, so the wide fetch only
touches the (usually tiny) changed subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ADDED, REMOVED, CHANGED, UNCHANGED = "added", "removed", "changed", "unchanged"


def _fingerprint(df: DataFrame, key_cols: list[str], compare_cols: list[str],
                 side: str) -> DataFrame:
    # values are compared by string representation, so a type-only
    # migration (int 1 -> "1") reads as UNCHANGED — intended: schema
    # evolution shouldn't flood the diff; NULL is distinguished from
    # "" by a marker
    marked = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00null")).alias(c)
        for c in compare_cols
    ]
    return df.select(
        *key_cols, F.xxhash64(*marked).alias(f"__fp_{side}")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key diff status: ``(key_cols..., status)`` with status in
    {added, removed, changed, unchanged}.

    ``compare_cols`` defaults to every shared non-key column.  Keys
    must be unique per snapshot (enforce upstream with
    ``dedup_exact``); duplicate keys make "changed" ill-defined.
    """
    if compare_cols is None:
        shared = set(old.columns) & set(new.columns)
        compare_cols = sorted(shared - set(key_cols))
    o = _fingerprint(old, key_cols, compare_cols, "old")
    n = _fingerprint(new, key_cols, compare_cols, "new")
    joined = o.join(n, key_cols, "full_outer")
    status = (
        F.when(F.col("__fp_old").isNull(), F.lit(ADDED))
        .when(F.col("__fp_new").isNull(), F.lit(REMOVED))
        .when(F.col("__fp_old") != F.col("__fp_new"), F.lit(CHANGED))
        .otherwise(F.lit(UNCHANGED))
    )
    return joined.select(*key_cols, status.alias("status"))


def snapshot_diff_summary(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """One row per status with its key count — the audit artifact."""
    return (
        snapshot_diff(old, new, key_cols, compare_cols)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def changed_rows(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    statuses: tuple[str, ...] = (ADDED, CHANGED),
) -> DataFrame:
    """Full NEW-side rows for keys whose status is in ``statuses`` —
    the incremental-work input (re-embed / re-decontam just these).
    Keys-first: the wide row fetch joins only the changed key set."""
    keys = snapshot_diff(old, new, key_cols, compare_cols).filter(
        F.col("status").isin(*statuses)
    )
    return new.join(keys.select(*key_cols, "status"), key_cols, "inner")
