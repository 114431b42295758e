"""MySQL DDL emission (SURVEY.md §2 A14).

The reference applies schema changes row-by-row through
``getTableDef``/``setTableDef`` round-trips (Porter.php:87,121).  Here
DDL is computed once per destination table after the schema pass and
emitted as plain SQL strings; the sink layer executes them over a
single JDBC connection before the (parallel) data write.

Primary keys follow Porter.php:115-120: ``_id`` on parent tables,
``(_parentid, _index)`` on child tables.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TYPE_NEEDS_KEY_LEN = ("text",)


def quote_ident(name: str) -> str:
    """MySQL identifier quoting WITH in-name backtick escaping
    (doubling).  Mongo field names may contain almost any UTF-8 —
    including backticks — and they flow straight into column names
    here, so bare ``f\"`{name}`\"`` interpolation is both broken SQL
    and an injection surface.  (sqlite accepts the same syntax, so the
    live-sink tests cover it.)"""
    return "`" + name.replace("`", "``") + "`"


def column(*path: str) -> Column:
    """Spark column reference to the field at ``path`` (one name per
    nesting level), each name backtick-quoted the way ``quote_ident``
    quotes it: a bare ``F.col("a.b")`` reads a ``.`` in a Mongo field
    name as nesting and a backtick as quoting."""
    return F.col(".".join(map(quote_ident, path)))


def _col_def(name: str, db_type: str) -> str:
    return f"{quote_ident(name)} {db_type}"


def create_table_sql(table: str, schema: dict[str, str], primary_key: tuple[str, ...] = ()) -> str:
    cols = [_col_def(c, t) for c, t in schema.items()]
    if primary_key:
        missing = [c for c in primary_key if c not in schema]
        if missing:
            raise ValueError(f"primary key columns missing from schema: {missing}")
        pk_cols = []
        for c in primary_key:
            # MySQL needs a prefix length to index text columns
            pk_cols.append(
                f"{quote_ident(c)}(191)"
                if schema[c] in _TYPE_NEEDS_KEY_LEN
                else quote_ident(c)
            )
        cols.append(f"PRIMARY KEY ({', '.join(pk_cols)})")
    body = ",\n  ".join(cols)
    return f"CREATE TABLE IF NOT EXISTS {quote_ident(table)} (\n  {body}\n)"


def alter_table_sql(
    table: str,
    add: dict[str, str] | None = None,
    modify: dict[str, str] | None = None,
) -> list[str]:
    """ADD COLUMN for newly-seen columns, MODIFY COLUMN for widened ones
    (the reference's per-row evolution, batched to one statement each)."""
    stmts = []
    for c, t in (add or {}).items():
        stmts.append(
            f"ALTER TABLE {quote_ident(table)} ADD COLUMN {_col_def(c, t)}"
        )
    for c, t in (modify or {}).items():
        stmts.append(
            f"ALTER TABLE {quote_ident(table)} MODIFY COLUMN {_col_def(c, t)}"
        )
    return stmts


def evolve_schema_sql(
    table: str,
    existing: dict[str, str] | None,
    inferred: dict[str, str],
    primary_key: tuple[str, ...] = (),
) -> list[str]:
    """Full evolution plan: CREATE if absent, else ADD/MODIFY via the
    widening lattice (callers pass existing column types from JDBC
    metadata)."""
    from mongo2mysql_spark.plans.lattice import widen

    if existing is None:
        return [create_table_sql(table, inferred, primary_key)]
    add = {c: t for c, t in inferred.items() if c not in existing}
    modify = {}
    for c, t in inferred.items():
        if c in existing:
            widened = widen(existing[c], t)
            if widened != existing[c]:
                modify[c] = widened
    return alter_table_sql(table, add=add, modify=modify)
