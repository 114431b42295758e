"""URL normalization + host-level corpus curation (extension layer).

Web-scale LLM pipelines curate by URL before they ever look at text:
RefinedWeb (Penedo et al. 2023 §3.1) and C4 both start with URL-level
dedup and host blocklists, and Dolma/CCNet aggregate quality per host.
The unit operations are:

- **normalize_url** — canonical form for dedup: strip scheme,
  leading ``www.``, fragments and tracking query parameters
  (``utm_*``, click ids), lowercase the host (paths stay
  case-sensitive), drop trailing slashes, sort surviving query
  parameters so param order can't split a group.
- **url_host** — the aggregation key for host-level stats and
  blocklist joins.
- **url_dedup** — min-id representative per normalized URL (the exact
  dedup recipe of operators/dedup.py applied to the URL key).
- **host_profile** — docs + distinct pages per host, the table host
  blocklist/quality decisions are made from.
- **host_blocklist_filter** — drop every document whose host appears
  in a (broadcast) blocklist.

Scale shape: normalization is one narrow projection (regex + split +
higher-order filter/sort — all JVM codegen, no UDF); dedup/profile
shuffle once on the normalized key; the blocklist is broadcast (block
lists are thousands of hosts vs billions of documents).  Nothing here
changes shape at 100 TB.

Determinism: outputs are strings/integers/booleans only; regexes stay
inside the RE2-compatible subset DuckDB mirrors verbatim, and the
query-parameter sort is a binary string sort identical in both
engines (queries/dedup.py states the SQL restatement).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# dropped query parameters: the common tracking families
TRACKING_EXACT = ("fbclid", "gclid", "msclkid", "ref", "mc_cid", "mc_eid")
TRACKING_PREFIX = "utm_"

_SCHEME_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://"


def _keep_param(p: Column) -> Column:
    key = F.lower(F.element_at(F.split(p, "="), 1))
    return (
        (p != "")
        & ~key.startswith(TRACKING_PREFIX)
        & ~key.isin(*TRACKING_EXACT)
    )


def normalize_url(url: Column) -> Column:
    """Canonical URL string (see module docstring for the rules)."""
    s = F.regexp_replace(url, "#.*$", "")  # fragment
    s = F.regexp_replace(s, _SCHEME_RE, "")  # scheme
    # case-insensitive: the host is lowercased only LATER, so a
    # case-sensitive strip here would leave 'WWW.' to become 'www.'
    # and break idempotence (caught by the property test)
    s = F.regexp_replace(s, r"(?i)^www\.", "")
    base = F.element_at(F.split(s, r"\?", 2), 1)
    query = F.when(s.contains("?"), F.element_at(F.split(s, r"\?", 2), 2)).otherwise(
        F.lit("")
    )
    slash = F.instr(base, "/")
    host = F.lower(F.when(slash > 0, F.substring(base, 1, slash - 1)).otherwise(base))
    # path: everything from the first '/' on, trailing slashes dropped
    path = F.when(slash > 0, F.substring(base, slash, F.length(base))).otherwise(
        F.lit("")
    )
    path = F.regexp_replace(path, "/+$", "")
    params = F.array_sort(F.filter(F.split(query, "&"), _keep_param))
    qtail = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.concat(host, path, qtail)


def url_host(norm_url: Column) -> Column:
    """Host of an already-normalized URL (text before '/' or '?')."""
    return F.element_at(F.split(norm_url, "[/?]", 2), 1)


def url_dedup(
    df: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """One row per normalized URL: (url_norm, representative id, n_docs).
    Min-id representative, exactly the dedup_exact contract."""
    return (
        df.select(F.col(id_col), normalize_url(F.col(url_col)).alias("url_norm"))
        .groupBy("url_norm")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_docs"))
    )


def host_profile(
    df: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """Per-host curation stats: (host, representative id, n_docs,
    n_urls distinct-normalized).  One shuffle on the host key; the
    distinct-URL count is exact (host cardinality is bounded by the
    web, not the corpus — use HLL via operators/profile for sketched
    mode)."""
    norm = df.select(
        F.col(id_col), normalize_url(F.col(url_col)).alias("url_norm")
    ).withColumn("host", url_host(F.col("url_norm")))
    return norm.groupBy("host").agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("url_norm").alias("n_urls"),
    )


def host_blocklist_filter(
    df: DataFrame, blocklist: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Drop rows whose normalized host appears in ``blocklist`` (a
    1-column DataFrame of hosts).  Broadcast left-anti join — the
    blocklist never shuffles the corpus."""
    hosts = blocklist.toDF("__block_host")
    with_host = df.withColumn(
        "__host", url_host(normalize_url(F.col(url_col)))
    )
    return (
        with_host.join(
            F.broadcast(hosts),
            with_host["__host"] == hosts["__block_host"],
            "left_anti",
        )
        .drop("__host")
    )


def sql_normalize_url(expr: str) -> str:
    """DuckDB restatement of ``normalize_url`` over SQL expression
    ``expr`` — the oracle mirror (queries/dedup.py builds its CTEs from
    this), kept next to the Spark form so the two stay in lockstep;
    parity is fuzz-swept in tests."""
    tracking = ", ".join(f"'{t}'" for t in TRACKING_EXACT)
    s = (
        f"regexp_replace(regexp_replace(regexp_replace({expr}, "
        "'#.*$', ''), '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), "
        r"'(?i)^www\.', '')"
    )
    base = f"string_split({s}, '?')[1]"
    # everything after the FIRST '?' — mirrors Spark's split(limit=2);
    # string_split(...)[2] would stop at a second literal '?' in a
    # query value and silently diverge cross-engine
    query = (
        f"CASE WHEN strpos({s}, '?') > 0 "
        f"THEN substring({s}, strpos({s}, '?') + 1) ELSE '' END"
    )
    host = (
        f"CASE WHEN strpos({base}, '/') > 0 "
        f"THEN lower(substring({base}, 1, strpos({base}, '/') - 1)) "
        f"ELSE lower({base}) END"
    )
    path = (
        f"CASE WHEN strpos({base}, '/') > 0 "
        f"THEN regexp_replace(substring({base}, strpos({base}, '/'), "
        f"length({base})), '/+$', '') ELSE '' END"
    )
    params = (
        f"list_sort(list_filter(string_split({query}, '&'), "
        "p -> p <> '' "
        f"AND NOT starts_with(lower(string_split(p, '=')[1]), '{TRACKING_PREFIX}') "
        f"AND NOT list_contains([{tracking}], lower(string_split(p, '=')[1]))))"
    )
    return (
        f"{host} || {path} || "
        f"CASE WHEN len({params}) > 0 "
        f"THEN '?' || array_to_string({params}, '&') ELSE '' END"
    )
