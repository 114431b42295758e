"""Row routing: ``_key`` → destination table (SURVEY.md §2 A10,
Porter.php:300-339).

The reference hard-codes nodeBB-specific kludge regexes (its own README
calls this tech debt, README.md:4-5).  Here the kludges are *data* — an
ordered rule table compiled into ONE column expression (a when/otherwise
chain over ``rlike`` + ``regexp_replace``), so routing is a narrow
projection with no Python in the hot path and users can override the
rules without touching engine code.

Chain preserved exactly (in reference order):
1. first-match kludge rules on the raw key (Porter.php:304-316);
2. ``settings``/``widgets`` prefix collapse (Porter.php:318-321);
3. digit runs → '#' (Porter.php:323);
4. ':NaN:' / ':undefined:' → ':#:' (Porter.php:324);
5. '[:# ]+' runs → '_' (Porter.php:325);
6. trim '_' (Porter.php:326);
7. numeric-or-empty result falls back to the collection name
   (Porter.php:334-338; the reference would return '' for purely
   numeric keys after digit collapse — we treat empty as numeric, the
   evident intent, and document the deviation).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (pattern, replacement) — first match wins; mirrors Porter.php:304-316.
DEFAULT_KLUDGE_RULES: tuple[tuple[str, str], ...] = (
    (r"^tag:(.+):topics$", "tag_topics"),
    (r"^group:cid:\d+:privileges.*:members$", "group_privileges_members"),
    (r"^group:cid:\d+:privileges", "group_privileges"),
    (r"^group:.*:members$", "group_members"),
    (r"^group:[^:]*$", "group"),
    (r"^ip:.*:uid$", "ip_uid"),
)

PREFIX_COLLAPSE = ("settings", "widgets")  # Porter.php:318-321


def route_key_expr(
    key: Column,
    collection_name: Column | str,
    kludge_rules: tuple[tuple[str, str], ...] = DEFAULT_KLUDGE_RULES,
) -> Column:
    """Column expression computing the destination table name."""
    fallback = F.lit(collection_name) if isinstance(collection_name, str) else collection_name

    routed = None
    for pattern, replacement in kludge_rules:
        cond = key.rlike(pattern)
        routed = F.when(cond, F.lit(replacement)) if routed is None else routed.when(cond, F.lit(replacement))
    routed = key if routed is None else routed.otherwise(key)

    first_seg = F.split(routed, ":").getItem(0)
    routed = F.when(first_seg.isin(*PREFIX_COLLAPSE), first_seg).otherwise(routed)

    routed = F.regexp_replace(routed, r"\d+", "#")
    routed = F.regexp_replace(routed, r":NaN:", ":#:")
    routed = F.regexp_replace(routed, r":undefined:", ":#:")
    routed = F.regexp_replace(routed, r"[:# ]+", "_")
    routed = F.regexp_replace(routed, r"^_+|_+$", "")

    numeric_or_empty = routed.rlike(r"^[0-9]*(\.[0-9]+)?$")
    return F.when(key.isNull() | numeric_or_empty, fallback).otherwise(routed)


def add_table_column(df, key_col: str, collection_name: str, out_col: str = "_table",
                     kludge_rules: tuple[tuple[str, str], ...] = DEFAULT_KLUDGE_RULES):
    """Attach the ``_table`` routing column.  Frames without a ``_key``
    column route everything to the collection name (Porter.php:301)."""
    if key_col not in df.columns:
        return df.withColumn(out_col, F.lit(collection_name))
    return df.withColumn(
        out_col, route_key_expr(F.col(key_col), collection_name, kludge_rules)
    )
