"""Array / big-object spill to child tables (SURVEY.md §2 A9,
Porter.php:245-268).

For each spill field collected by the flatten walk, derive a child
DataFrame:

- child table name ``parent__column`` (double underscore, Porter.php:246);
- ``_parentid`` = parent ``_id`` (Porter.php:254/257 insert the parent
  id), ``_index`` = array position (0-based) or object/map key;
- scalar elements land in a single column named after the spilled field
  (Porter.php:257); struct elements are flattened per element.

The reference has a bug at Porter.php:254 — the object branch flattens
the *whole array* instead of the element — and explicitly drops nested
arrays inside elements (Porter.php:255, "don't support nested arrays").
We implement the evident intent (flatten the element) and preserve the
nested-array drop: sub-arrays inside elements are discarded, not
recursively spilled.

Execution shape: ``posexplode_outer`` is a narrow generator — no
shuffle.  At 100 TB the child table inherits the parent's partitioning;
the only later shuffle is the optional per-table ``_num`` window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongo2mysql_spark.operators.flatten import SpillField
from mongo2mysql_spark.plans.ddl import column


def child_table_name(parent_table: str, flat_name: str) -> str:
    return f"{parent_table}__{flat_name}"  # Porter.php:246


def _element_cols(elem_type: T.DataType, value_name: str, src: Column | str) -> list[Column]:
    """Columns for one exploded element: scalar → one column named after
    the field; struct → flattened element fields (nested arrays/maps
    dropped, Porter.php:255)."""
    col = F.col(src) if isinstance(src, str) else src
    if isinstance(elem_type, T.StructType):
        out: list[Column] = []
        for f in elem_type.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType)):
                continue  # nested arrays unsupported, mirrored from reference
            if isinstance(f.dataType, T.StructType):
                for g in f.dataType.fields:
                    if isinstance(g.dataType, (T.ArrayType, T.MapType, T.StructType)):
                        continue
                    out.append(col.getField(f.name).getField(g.name).alias(f"{f.name}_{g.name}"))
            else:
                out.append(col.getField(f.name).alias(f.name))
        return out
    return [col.alias(value_name)]


def spill_child(df: DataFrame, spill: SpillField, id_col: str = "_id") -> DataFrame:
    """Derive the child DataFrame for one spilled field."""
    parent_id = F.col(id_col).alias("_parentid")
    if spill.kind == "array":
        assert isinstance(spill.data_type, T.ArrayType)
        # posexplode (inner): null/empty arrays yield no child rows, same
        # as the reference's foreach over an empty array
        exploded = df.select(
            parent_id, F.posexplode(column(*spill.path)).alias("_index", "__elem")
        )
        return exploded.select(
            "_parentid", "_index", *_element_cols(spill.data_type.elementType, spill.flat_name, "__elem")
        )
    if spill.kind == "map":
        assert isinstance(spill.data_type, T.MapType)
        exploded = df.select(
            parent_id, F.posexplode(F.map_entries(column(*spill.path))).alias("__pos", "__kv")
        )
        return exploded.select(
            "_parentid",
            F.col("__kv.key").alias("_index"),
            *_element_cols(spill.data_type.valueType, spill.flat_name, F.col("__kv.value")),
        )
    if spill.kind == "big_struct":
        assert isinstance(spill.data_type, T.StructType)
        # >25-key object → child rows keyed by object key (Porter.php:281),
        # values widened to string (heterogeneous field types share one column)
        entries = F.array(
            *[
                F.struct(
                    F.lit(f.name).alias("_index"),
                    column(*spill.path, f.name).cast("string").alias(spill.flat_name),
                )
                for f in spill.data_type.fields
                if not isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
            ]
        )
        exploded = df.select(parent_id, F.explode(entries).alias("__kv"))
        return exploded.select(
            "_parentid",
            F.col("__kv._index").alias("_index"),
            F.col(f"__kv.{spill.flat_name}").alias(spill.flat_name),
        )
    raise ValueError(f"unknown spill kind: {spill.kind}")
