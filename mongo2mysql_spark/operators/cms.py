"""Count-min sketch — fixed-size frequency summaries with mergeable
integer state (extension layer — the reference's 556-LoC ETL core has
no aggregation surface; this is the Cormode & Muthukrishnan 2005
sketch every streaming/OLAP engine ships as ``count_min_sketch`` /
``topK`` support structure).

Why it earns a slot next to exact heavy_keys (operators/profile.py):
exact per-key counts cost a shuffle keyed on the (possibly hot) key
and state proportional to the number of DISTINCT keys; the CMS costs
ONE map-side-combinable aggregate into a depth×width counter grid —
state is d·w integers REGARDLESS of cardinality, partials merge by
plain cell-wise addition (micro-batches, partitions, days — same
merge), and any key's count is answerable after the fact with
one-sided error: estimate >= true, overshoot <= εN with probability
1−δ (w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉).

Engine parity: the textbook sketch hashes with xxhash-style mixers,
which no two engines agree on.  This one hashes with pairwise-
independent integer arithmetic ``((a_i·x + b_i) mod p) mod w``
(Carter–Wegman; p = 2³¹−1 Mersenne, fixed odd multipliers) — every
cell and every estimate is the SAME BIGINT on Spark and DuckDB, so
the driver gate hashes the sketch itself, not a tolerance verdict.
Nonnegative integer keys only, ENFORCED in :func:`cms_bucket`;
string keys go through :func:`cms_fold_key` first — a fixed-unroll
codepoint polynomial that is the identical BIGINT on both engines.

Scale shape: build = one narrow scan → explode(depth) →
``groupBy(i, bucket)`` count, map-side combined, shuffle bounded by
d·w cells, never by rows or distinct keys.  Estimate = a broadcast
join of the (tiny) query-key frame against the (tiny) cell table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CMS_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
# fixed pairwise-independent hash parameters (primes; a odd, 0 < a < p)
CMS_A = (1_299_709, 15_485_863, 32_452_843, 49_979_687)
CMS_B = (7, 97, 997, 9_973)


def _check(depth: int, width: int) -> None:
    if not 1 <= depth <= len(CMS_A):
        raise ValueError(f"depth must be in [1, {len(CMS_A)}], got {depth}")
    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")


CMS_KEY_MAX = 4_294_967_295  # a_i·x must fit BIGINT: keys < ~4.2e9


def cms_bucket(key: Column, i: int, width: int) -> Column:
    """Row ``i``'s cell index for ``key`` (nonnegative BIGINT):
    ``((a_i·x + b_i) mod p) mod w`` — plain 64-bit integer arithmetic,
    bit-identical on every engine (a·x <= (p−1)·key fits BIGINT for
    keys <= CMS_KEY_MAX).  The key domain is ENFORCED at runtime: a
    negative key would index negative buckets (silently consistent on
    both engines but outside the stated contract) and a key past
    CMS_KEY_MAX overflows a_i·x differently per engine (Spark wraps
    BIGINT, DuckDB raises) — both fail loudly here instead of
    diverging.  String keys go through :func:`cms_fold_key` first."""
    k = key.cast("long")
    # NULL-safe: a NULL key passes through as a NULL bucket (missing
    # the estimate join and coalescing to 0, the pre-guard behavior) —
    # assert_true treats a NULL condition as failure, so NULLs must be
    # allowed explicitly or cms_estimate dies on any NULL query key
    guard = F.assert_true(
        k.isNull() | ((k >= 0) & (k <= F.lit(CMS_KEY_MAX))),
        F.concat(
            F.lit(f"cms key outside [0, {CMS_KEY_MAX}]: "), k.cast("string")
        ),
    )
    return (
        (F.when(guard.isNull(), k) * F.lit(CMS_A[i]) + F.lit(CMS_B[i]))
        % F.lit(CMS_P)
        % F.lit(width)
    )


CMS_FOLD_PREFIX = 16  # characters of the key that enter the fold
CMS_FOLD_BASE = 131


def _fold_weights(prefix_len: int) -> list[int]:
    # W_j = base^(prefix_len - j) mod p, j 1-based — precomputed in
    # Python so both engines evaluate pure integer multiply-adds
    return [
        pow(CMS_FOLD_BASE, prefix_len - j, CMS_P)
        for j in range(1, prefix_len + 1)
    ]


def cms_fold_key(col: Column, prefix_len: int = CMS_FOLD_PREFIX) -> Column:
    """Portable string → nonnegative-BIGINT fold, the documented entry
    point for string-keyed sketches (tokens, URLs, event types):
    ``(Σ_{j=1..L} cp_j · W_j + len) mod p`` where ``cp_j`` is the
    Unicode codepoint of character j (0 past the end — ``ascii`` of an
    empty substring is 0 on BOTH engines, verified), ``W_j`` are fixed
    ``131^(L−j) mod p`` weights and ``len`` is the character length.
    Every term is plain 64-bit integer arithmetic (max |sum| ≈ 16 ·
    0x10FFFF · p < 2^56), so the fold — and therefore every bucket and
    estimate downstream — is the identical BIGINT on Spark and DuckDB
    (:func:`cms_fold_key_sql` is the restatement).

    Keys agreeing on the first ``prefix_len`` characters AND length
    collide by design — the prefix contract of a fixed-unroll fold; at
    the default 16 chars that is the usual token/URL-host regime.
    Output is in [0, p) ⊂ the :func:`cms_bucket` key domain.  NULL
    strings fold to NULL (filtered by the builders).
    """
    w = _fold_weights(prefix_len)
    total = F.length(col).cast("long")
    for j in range(prefix_len):
        total = total + (
            F.ascii(F.substring(col, j + 1, 1)).cast("long") * F.lit(w[j])
        )
    return total % F.lit(CMS_P)


def cms_fold_key_sql(expr: str, prefix_len: int = CMS_FOLD_PREFIX) -> str:
    """DuckDB restatement of :func:`cms_fold_key` — same weights, same
    codepoint/length semantics (``ascii``/``substr``/``length`` agree
    engine-for-engine, including ascii('') = 0)."""
    w = _fold_weights(prefix_len)
    terms = " + ".join(
        f"ascii(substr({expr}, {j + 1}, 1)) * CAST({w[j]} AS BIGINT)"
        for j in range(prefix_len)
    )
    return f"((CAST(length({expr}) AS BIGINT) + {terms}) % {CMS_P})"


def cms_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 512
) -> DataFrame:
    """The counter grid: one row per NON-EMPTY cell — (i, bucket,
    cnt).  Empty cells are zero by omission (estimates coalesce).
    One scan, one map-side-combined aggregate; output <= d·w rows.
    Merge two sketches by unioning and re-summing per cell (additive
    — see :func:`cms_merge`)."""
    _check(depth, width)
    k = F.col(key_col)
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    cms_bucket(k, i, width).alias("bucket"),
                )
                for i in range(depth)
            ]
        )
    ).alias("__c")
    return (
        df.filter(k.isNotNull())
        .select(cells)
        .groupBy(
            F.col("__c.i").alias("i"), F.col("__c.bucket").alias("bucket")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cell-wise sum of two grids built with identical (depth, width)
    — the mergeability that makes the sketch a partial aggregate
    (per-partition / per-micro-batch sketches fold to the exact
    whole-input sketch, integer-exactly)."""
    return (
        a.unionByName(b)
        .groupBy("i", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point-query estimates for ``keys[key_col]``: min over the d
    cells a key hashes to (absent cell = 0).  Returns the ``keys``
    frame plus an ``est`` BIGINT column.  The key frame is query-
    sized; the grid is <= d·w rows — broadcast it."""
    _check(depth, width)
    k = F.col(key_col)
    probes = keys.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        cms_bucket(k, i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("__p"),
    ).select("*", F.col("__p.i").alias("i"), F.col("__p.bucket").alias("bucket"))
    out_cols = [c for c in keys.columns]
    return (
        probes.join(F.broadcast(cms), ["i", "bucket"], "left")
        .groupBy(*out_cols)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("est")
        )
    )


def cms_sql(
    source_cte: str,
    key: str,
    depth: int = 4,
    width: int = 512,
    prefix: str = "cm",
) -> str:
    """DuckDB restatement of build+estimate against the true top keys:
    final CTE ``<prefix>sest(key_val, est)`` holding the estimate for
    every DISTINCT key of the source (callers filter/join the keys
    they care about).  Same Carter–Wegman arithmetic, so every
    estimate is the identical BIGINT."""
    _check(depth, width)
    legs = "\n      UNION ALL ".join(
        f"SELECT {i} AS i, (({key} * {CMS_A[i]} + {CMS_B[i]}) % {CMS_P})"
        f" % {width} AS bucket FROM {source_cte} WHERE {key} IS NOT NULL"
        for i in range(depth)
    )
    probes = "\n      UNION ALL ".join(
        f"SELECT key_val, {i} AS i,"
        f" ((key_val * {CMS_A[i]} + {CMS_B[i]}) % {CMS_P})"
        f" % {width} AS bucket FROM {prefix}skeys"
        for i in range(depth)
    )
    x = prefix
    return f"""{x}scells AS (
      SELECT i, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM ({legs}) GROUP BY 1, 2),
    {x}skeys AS (
      SELECT DISTINCT CAST({key} AS BIGINT) AS key_val
      FROM {source_cte} WHERE {key} IS NOT NULL),
    {x}sprobes AS ({probes}),
    {x}sest AS (
      SELECT p.key_val,
             CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est
      FROM {x}sprobes p
      LEFT JOIN {x}scells c USING (i, bucket)
      GROUP BY p.key_val)"""
