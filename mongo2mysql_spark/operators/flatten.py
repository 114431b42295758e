"""Recursive document flatten (SURVEY.md §2 A8, Porter.php:277-298).

The reference walks each document depth-first at runtime; here the walk
is over ``df.schema`` — a pure metadata operation that compiles to ONE
``select`` of column expressions.  No UDF, no shuffle: flatten is a
narrow per-partition projection at any scale.

Semantics preserved:
- key path ``a.b.c`` → column ``a_b_c`` (separator '_', Porter.php:288);
- list-shaped values and structs with > 25 keys divert to the spill
  side-channel at every nesting level with path-prefixed names
  (Porter.php:281-286) — see operators/spill.py for the child tables;
- MongoDate → the reference converts to ISO-8601 UTC *string* with
  seconds precision (gmdate('c'), Porter.php:290-292) and later
  re-detects 'datetime' (Porter.php:372).  We keep TimestampType native
  and truncate to seconds when ``ts_seconds=True`` (default) — same
  destination type and values, minus the string round-trip.

Deviation: MapType columns (dynamic keys — no static schema) are
treated like the >25-key object case and spilled keyed by map key; the
reference sees them as PHP assoc arrays and would flatten small ones,
but a fixed-schema engine cannot flatten unknown keys.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongo2mysql_spark.plans.ddl import column

BIG_OBJECT_KEYS = 25  # Porter.php:281


@dataclass
class SpillField:
    """A field diverted to a child table (the reference's ``_arr``)."""

    path: tuple[str, ...]  # field names from the frame's root, e.g. ("profile", "tags")
    flat_name: str  # path-flattened name, e.g. "profile_tags"
    data_type: T.DataType
    kind: str  # "array" | "big_struct" | "map"


@dataclass
class FlattenResult:
    parent: DataFrame
    spills: list[SpillField] = field(default_factory=list)


def _walk(
    dtype: T.DataType, path: tuple[str, ...], flat: str, out_cols: list[Column],
    spills: list[SpillField], ts_seconds: bool, sep: str,
) -> None:
    if isinstance(dtype, T.ArrayType):
        spills.append(SpillField(path, flat, dtype, "array"))
        return
    if isinstance(dtype, T.MapType):
        spills.append(SpillField(path, flat, dtype, "map"))
        return
    if isinstance(dtype, T.StructType):
        if len(dtype.fields) > BIG_OBJECT_KEYS:
            spills.append(SpillField(path, flat, dtype, "big_struct"))
            return
        for f in dtype.fields:
            _walk(
                f.dataType,
                (*path, f.name),
                f"{flat}{sep}{f.name}" if flat else f.name,
                out_cols, spills, ts_seconds, sep,
            )
        return
    col = column(*path)
    if ts_seconds and isinstance(dtype, T.TimestampType):
        col = F.date_trunc("second", col)  # seconds precision, Porter.php:291
    out_cols.append(col.alias(flat))


def flatten(df: DataFrame, ts_seconds: bool = True, sep: str = "_") -> FlattenResult:
    """Flatten nested structs into path-named columns; collect spill
    fields (arrays / maps / >25-key structs) for child-table derivation.

    Top-level scalar columns pass through unchanged; the whole result is
    a single ``select`` so Catalyst can prune any column the downstream
    plan doesn't use.
    """
    out_cols: list[Column] = []
    spills: list[SpillField] = []
    for f in df.schema.fields:
        _walk(f.dataType, (f.name,), f.name, out_cols, spills, ts_seconds, sep)
    return FlattenResult(parent=df.select(*out_cols), spills=spills)


def flat_column_count(schema: T.StructType, sep: str = "_") -> int:
    """Number of columns a schema flattens to — the per-table analogue
    of the reference's per-row wide-row guard (Porter.php:190-194)."""
    spills: list[SpillField] = []
    n = 0
    for f in schema.fields:
        cols: list[Column] = []
        _walk(f.dataType, (f.name,), f.name, cols, spills, False, sep)
        n += len(cols)
    return n
