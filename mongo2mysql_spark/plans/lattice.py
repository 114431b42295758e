"""Type inference + widening lattice (SURVEY.md §2 A12/A13).

Pure-Python reimplementation of the reference's type system:
``guessDbType`` (Porter.php:358-396) and ``guessCompareDbTypes``
(Porter.php:405-429).  Types are the same strings the reference uses
('int', 'double', 'datetime', 'text', 'varchar(N)') so the quirky arms
can be preserved exactly:

- null guesses as 'int' (Porter.php:363);
- varchar widths bucket to 50/100/255/512 with the boundary quirk that
  a 50-char string buckets to 100 and a 255-char string to 512
  (strict ``<`` comparisons, Porter.php:375-386);
- the widening join sorts its two arguments lexically first
  (Porter.php:407-409), so e.g. int+varchar(50) → varchar(255) via the
  catch-all arm, NOT varchar(50);
- any cross-kind mix → varchar(255) (Porter.php:424-425).

Deviation (documented): the reference widens per-row in cursor order,
and its lattice is NOT associative for mixes involving datetime-typed
strings (varchar(50)+datetime → varchar(255), but
(varchar(50)+varchar(512))+datetime → varchar(255) while
varchar(50)+(varchar(512)+datetime) is varchar(512) under other
orders).  A distributed engine cannot depend on row order, so the
set-oriented closure here is: a string column is 'datetime' iff ALL
non-null values match the ISO regex, else it buckets by max length.
"""

from __future__ import annotations

import re
from datetime import date, datetime

MAX_VARCHAR = 512  # Porter.php:38
ISO_DATETIME_RE = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d{1,4})?")
_VARCHAR_RE = re.compile(r"(\d+)")


class UnknownTypeError(TypeError):
    """Mirror of the reference's unknown-type throw (Porter.php:388-395)."""


def varchar_bucket(strlen: int) -> int:
    """Porter.php:375-386 — strict-< buckets; 50→100 and 255→512."""
    if strlen < 50:
        return 50
    if strlen < 100:
        return 100
    if strlen < 255:
        return 255
    return MAX_VARCHAR


def guess_db_type(value) -> str:
    """Value → MySQL type string (Porter.php:358-396).

    Python stand-ins for Mongo driver classes: a value tagged as an
    ObjectId is passed as ``ObjectIdStr``; datetimes map to 'datetime'.
    """
    if isinstance(value, ObjectIdStr):
        return "varchar(24)"
    if isinstance(value, (datetime, date)):
        return "datetime"
    if value is None:
        return "int"  # quirk: null guesses as int (Porter.php:363)
    if isinstance(value, bool):
        # PHP is_int(bool) is false → falls to the unknown-type throw
        raise UnknownTypeError(f"Unknown type for: {value!r}")
    if isinstance(value, int):
        return "int"
    if isinstance(value, float):
        return "double"
    if isinstance(value, str):
        if len(value) > MAX_VARCHAR:
            return "text"
        if ISO_DATETIME_RE.match(value):
            return "datetime"
        return f"varchar({varchar_bucket(len(value))})"
    raise UnknownTypeError(f"Unknown type for: {value!r}")


class ObjectIdStr(str):
    """24-hex-char Mongo ObjectId carried as a tagged string."""


def widen(type1: str, type2: str) -> str:
    """Most-forgiving common type (Porter.php:405-429), including the
    lexical pre-sort of the arguments the reference performs."""
    t1, t2 = sorted((type1, type2))
    if t1 == t2:
        return t1
    if t1 == "text" or t2 == "text":
        return "text"
    if t1 == "double" and t2 == "int":
        return "double"
    if t1.startswith("varchar") and t2.startswith("varchar"):
        m1, m2 = _VARCHAR_RE.search(t1), _VARCHAR_RE.search(t2)
        if m1 and m2:
            return f"varchar({max(int(m1.group(1)), int(m2.group(1)))})"
        return t2
    return "varchar(255)"


# ------------------------------------------------------- Spark-type bridging

_SPARK_SIMPLE = {
    "long": "int",
    "int": "int",
    "integer": "int",
    "short": "int",
    "byte": "int",
    "double": "double",
    "float": "double",
    "timestamp": "datetime",
    "timestamp_ntz": "datetime",
    "date": "datetime",
}


def db_type_for_spark(spark_type_name: str, max_strlen: int | None = None,
                      all_iso: bool = False, all_null: bool = False) -> str:
    """Map a Spark column (plus scan statistics for strings) to the
    reference's type strings.  ``max_strlen``/``all_iso``/``all_null``
    come from a single distributed aggregation pass (see
    :func:`mongo2mysql_spark.plans.infer.infer_table_schema`) — the
    set-oriented replacement for the reference's per-row guessing."""
    if all_null:
        return "int"  # quirk preserved: never-seen column type (null→int)
    if spark_type_name in _SPARK_SIMPLE:
        return _SPARK_SIMPLE[spark_type_name]
    if spark_type_name == "string":
        if max_strlen is None:
            return "varchar(50)"
        if max_strlen > MAX_VARCHAR:
            return "text"
        if all_iso:
            return "datetime"
        return f"varchar({varchar_bucket(max_strlen)})"
    if spark_type_name == "boolean":
        raise UnknownTypeError("boolean has no reference mapping (PHP would throw)")
    raise UnknownTypeError(f"Unknown type for: {spark_type_name}")
