"""Distributed schema inference (SURVEY.md §2 A12/A14, set-oriented).

The reference guesses a type per value and widens per row
(ensureRowStructure, Porter.php:86-123) — a per-row DDL round-trip its
own README calls the bottleneck (README.md:63-64).  The Spark rebuild
separates the schema pass from the data pass (SURVEY §3): ONE
aggregation over the DataFrame computes, for every string column, the
max length / all-ISO / all-null statistics, and the driver maps those
to reference type strings via the lattice.  Cost at 100 TB: a single
scan with partial aggregation (max/min combine map-side), no shuffle
wider than one row per column.

The statistics are mergeable summaries (count adds, max length and
all-ISO take max/min), so a :class:`~mongo2mysql_spark.operators.
sequence.Numbering` passed in place of a DataFrame supplies them from
its own per-(table, partition) aggregation: the same job that fits its
``_num`` offsets, merged per table on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo2mysql_spark.operators.sequence import Numbering
from mongo2mysql_spark.plans.ddl import column
from mongo2mysql_spark.plans.lattice import db_type_for_spark

# Spark-side mirror of lattice.ISO_DATETIME_RE (Java regex, Porter.php:372).
ISO_RE_SQL = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d{1,4})?.*"


def _schema_stat_aggs(fields) -> list:
    aggs = []
    for field in fields:
        name, col = field.name, column(field.name)
        aggs.append(F.count(col).alias(f"__cnt__{name}"))
        if field.dataType.typeName() == "string":
            aggs.append(F.max(F.length(col)).alias(f"__len__{name}"))
            aggs.append(F.min(col.rlike(ISO_RE_SQL).cast("int")).alias(f"__iso__{name}"))
    return aggs


# how two partial statistics of one column combine, keyed by the
# 7-character name prefix _schema_stat_aggs gives each statistic
_COMBINE = {"__cnt__": lambda a, b: a + b, "__len__": max, "__iso__": min}


def _numbered_stats(num: Numbering, fields) -> dict:
    """{group → merged statistics} of ``num``'s numbered frame from the
    numbering's one aggregation.  Each (group, partition) row is a
    partial summary; ``num.out_col`` is never null, so its count is the
    run's row count."""
    aggs = _schema_stat_aggs([f for f in fields if f.name != num.out_col])
    merged: dict = {}
    for row in num.aggregate(*aggs):
        row[f"__cnt__{num.out_col}"] = row["__n"]
        group = row[num.partition_cols[0]] if num.partition_cols else None
        stats = merged.setdefault(group, {})
        for name, v in row.items():
            combine = _COMBINE.get(name[:7])
            if combine is None or v is None:
                continue
            stats[name] = v if stats.get(name) is None else combine(stats[name], v)
    return merged


def _stats_to_schema(fields, stats: dict, strict: bool) -> dict[str, str]:
    out: dict[str, str] = {}
    for field in fields:
        name = field.name
        type_name = field.dataType.typeName()
        all_null = (stats.get(f"__cnt__{name}") or 0) == 0
        max_len = stats.get(f"__len__{name}")
        all_iso = stats.get(f"__iso__{name}") == 1
        try:
            out[name] = db_type_for_spark(
                type_name, max_strlen=max_len, all_iso=all_iso, all_null=all_null
            )
        except Exception:
            if strict:
                raise
            out[name] = "text"
    return out


def infer_table_schema(df: DataFrame | Numbering, strict: bool = True) -> dict[str, str]:
    """Return {column → reference db type} for a flat DataFrame.

    One aggregation job; string statistics and null counts for all
    columns are computed in the same pass.  ``df`` may be an
    ungrouped :class:`Numbering`, whose numbered frame is described.
    """
    if isinstance(df, Numbering):
        stats = _numbered_stats(df, df.schema.fields).get(None, {})
        return _stats_to_schema(df.schema.fields, stats, strict)
    aggs = _schema_stat_aggs(df.schema.fields)
    stats = df.agg(*aggs).collect()[0].asDict() if aggs else {}
    return _stats_to_schema(df.schema.fields, stats, strict)


def infer_table_schemas_grouped(
    df: DataFrame | Numbering, table_col: str = "_table", strict: bool = False
) -> dict[str, dict[str, str]]:
    """Per-routed-table schema inference in ONE grouped aggregation.

    The porter's routing split fans one collection into N destination
    tables; inferring each filtered branch separately costs N scans of
    the source.  This computes every table's column statistics in a
    single ``groupBy(table_col)`` pass (partial aggregation map-side —
    one shuffle of N×columns stat rows, regardless of input size).
    Returns {table → {column → reference db type}}.  ``df`` may be a
    :class:`Numbering` grouped by ``table_col``.
    """
    fields = [f for f in df.schema.fields if f.name != table_col]
    if isinstance(df, Numbering):
        return {
            t: _stats_to_schema(fields, stats, strict)
            for t, stats in _numbered_stats(df, fields).items()
        }
    aggs = _schema_stat_aggs(fields)
    if not aggs:
        return {}
    rows = df.groupBy(table_col).agg(*aggs).collect()
    return {
        r[table_col]: _stats_to_schema(fields, r.asDict(), strict) for r in rows
    }
