"""Row/table guards (SURVEY.md §2 A5/A6/A7).

- skip-list filter (Porter.php:477-485, 156-157): drop rows routed to
  user-skipped tables;
- missing-destination filter for --dataonly (Porter.php:158-178): drop
  rows routed to tables absent at the destination (the reference
  memoizes per-row misses; we take the existing-table set once from
  JDBC metadata and filter — one broadcast set, no per-row round-trip);
- wide-row guard (Porter.php:190-194): the reference skips any row
  flattening to > 500 columns.  With fixed schemas width is a per-TABLE
  property, checked once; a per-row variant exists for dynamic JSON
  payloads.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WIDE_ROW_LIMIT = 500  # Porter.php:190


def parse_skip_list(csv: str | None) -> set[str]:
    """CLI `--skip a,b,c` (cli.php:26, Porter.php:477-485)."""
    if not csv:
        return set()
    return {s.strip() for s in csv.split(",") if s.strip()}


def skip_list_predicate(skip: set[str], table_col: str = "_table") -> Column:
    """The keep-this-row predicate behind the skip-list filter (exposed
    so callers can attach it as a verdict column without a second pass)."""
    if not skip:
        return F.lit(True)
    return ~F.col(table_col).isin(*sorted(skip))


def filter_skip_list(df: DataFrame, skip: set[str], table_col: str = "_table") -> DataFrame:
    if not skip:
        return df
    return df.filter(skip_list_predicate(skip, table_col))


def filter_missing_destination(
    df: DataFrame, existing_tables: set[str], table_col: str = "_table"
) -> DataFrame:
    """--dataonly: keep only rows whose destination table exists."""
    if not existing_tables:
        return df.filter(F.lit(False))
    return df.filter(F.col(table_col).isin(*sorted(existing_tables)))


def table_too_wide(schema, limit: int = WIDE_ROW_LIMIT) -> bool:
    """Fixed-schema analogue of the wide-row skip: check once per table."""
    from mongo2mysql_spark.operators.flatten import flat_column_count

    return flat_column_count(schema) > limit
