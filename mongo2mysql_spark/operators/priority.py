"""Priority sampling — weighted sampling without replacement with
unbiased subset-sum estimation (Duffield, Lund & Thorup, "Priority
sampling for estimation of arbitrary subset sums", JACM 54(6), 2007).

Each item draws a uniform alpha in (0, 1] and gets priority
q = w / alpha; the k highest-priority items form the sample, the
(k+1)-th priority is the threshold tau, and the estimator
w_hat = max(w, tau) over sampled items is unbiased for ANY subset sum
— the standard way to keep a small weighted sample of a huge corpus
(documents weighted by size, flows by bytes) that can still answer
"how many tokens does domain X hold" without rescanning.

Engine discipline (same as every sampler here): alpha is DERANDOMIZED
from a salted md5, so the sample is reproducible, repartition-stable,
and bit-identical in DuckDB — the driver hash verifies the actual
sample membership, priorities, threshold, and estimator terms:

- h = first 7 md5 hex chars of (salt|key) as an integer in
  [0, 2^28);  alpha = (h+1) / 2^28;
- the true priority w/alpha = w * 2^28 / (h+1) is kept as the
  SCALED INTEGER q = (w << 40) DIV (h+1) — the priority x2^12 (12
  bits of quantization headroom so the floor rarely ties), exact
  floor arithmetic on both engines (weights are validated into
  (0, 2^20], so w << 40 <= 2^60 never overflows BIGINT); residual
  ties on the floored q break by key;
- tau is the (k+1)-th q per group (0 when the group fits entirely);
- the estimator term is west = max(w << 12, tau), an integer in the
  same x2^12 priority scale; Sum(west) / 2^12 is the subset-sum
  estimate (the division by a power of two is exact in IEEE doubles
  — the only rounding is the final integer-to-double cast,
  identical on both engines).

Scale shape: ranking rides the two-phase salted top-k
(operators/skew.salted_topk_per_group), so a giant group never sorts
on one reducer; the ungrouped form is a global top-(k+1) —
TakeOrderedAndProject, no global sort.  The threshold join back is
groups x 1 rows (broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

H_HEX = 7              # md5 hex chars -> 28-bit hash window
P_SHIFT = 40           # q = (w << P_SHIFT) DIV (h+1) = priority x2^12
E_SHIFT = P_SHIFT - 4 * H_HEX  # the x2^12 scale q and west share
W_MAX = 1 << 20        # validated weight cap: w << 40 stays in BIGINT


def sql_priority_hash(key_sql: str, salt: str) -> str:
    return (
        f"CAST('0x' || substr(md5('{salt}' || '|' ||"
        f" CAST({key_sql} AS VARCHAR)), 1, {H_HEX}) AS BIGINT)"
    )


def priority_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    group_cols: list[str] | None = None,
    salt: str = "prio",
) -> DataFrame:
    """The k highest-priority items per group with their threshold and
    estimator terms.

    Output: ``group_cols + (key, w, q, prank, tau, west)`` — ``prank``
    in [1, k], ``tau`` = the group's (k+1)-th priority (0 if the group
    has <= k items), ``west = max(w << 12, tau)`` (the x2^12-scaled
    ``max(w, tau)`` estimator term; Sum(west)/2^12 over any subset of
    the sample estimates that subset's true weight sum, unbiased over
    the salt space).  Weights outside (0, 2^20] fail loudly at action
    time — the same runtime-enforced domain discipline as the CMS key
    fold."""
    base = _priority_base(df, key_col, weight_col, group_cols, salt)
    return _priority_finalize(base, k, group_cols or [])


def _priority_base(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    group_cols: list[str] | None,
    salt: str,
) -> DataFrame:
    """The (group..., key, w, q) precursor frame — validated weight
    plus the scaled-integer priority."""
    group_cols = group_cols or []
    w = F.col(weight_col).cast("long")
    w_ok = F.when((w > 0) & (w <= W_MAX), w).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"priority_sample: weight out of (0, {W_MAX}]: "
                ),
                w.cast("string"),
            )
        )
    )
    return df.select(
        *group_cols,
        F.col(key_col).alias("key"),
        w_ok.alias("w"),
        F.expr(f"(CAST({weight_col} AS BIGINT) * {1 << P_SHIFT})"
               f" div ({sql_ph_spark(key_col, salt)} + 1)").alias("q"),
    )


def _priority_ranked(
    base: DataFrame, k1: int, group_cols: list[str]
) -> DataFrame:
    """Top-``k1`` of a (group..., key, w, q) frame by (q desc, key),
    with ``prank``.  Grouped ranking rides the two-phase salted
    top-k; the global form is TakeOrderedAndProject + a re-rank of
    the k1 survivors on one tiny partition."""
    from mongo2mysql_spark.operators.skew import salted_topk_per_group

    order = [F.col("q").desc(), F.col("key")]
    if group_cols:
        return salted_topk_per_group(
            base, group_cols, order, k1
        ).withColumnRenamed("rank", "prank")
    from pyspark.sql import Window as W

    return base.orderBy(*order).limit(k1).withColumn(
        "prank", F.row_number().over(W.orderBy(*order))
    )


def _priority_finalize(
    base: DataFrame, k: int, group_cols: list[str]
) -> DataFrame:
    ranked = _priority_ranked(base, k + 1, group_cols)
    if group_cols:
        tau = ranked.filter(F.col("prank") == k + 1).select(
            *group_cols, F.col("q").alias("tau")
        )
        out = (
            ranked.filter(F.col("prank") <= k)
            .join(F.broadcast(tau), group_cols, "left")
        )
    else:
        # always-one-row threshold frame (NULL when the input fits
        # entirely) — a filter+crossJoin would drop every row then
        tau = ranked.agg(
            F.max(F.when(F.col("prank") == k + 1, F.col("q"))).alias(
                "tau"
            )
        )
        out = ranked.filter(F.col("prank") <= k).crossJoin(
            F.broadcast(tau)
        )
    out = out.withColumn("tau", F.coalesce(F.col("tau"), F.lit(0)))
    return out.withColumn(
        "west",
        F.greatest(F.col("w") * F.lit(1 << E_SHIFT), F.col("tau")),
    )


def priority_sketch(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    group_cols: list[str] | None = None,
    salt: str = "prio",
) -> DataFrame:
    """The MERGEABLE state of a k-sample: the top-(k+1) rows per group
    as (group..., key, w, q) — k+1, not k, because the threshold
    witness must survive merging.  Any element ranked <= k+1 in a
    union is ranked <= k+1 in its own part (at most k union elements
    beat it), so the union's top-(k+1) is contained in the union of
    part sketches — :func:`priority_merge` over DISJOINT parts is
    therefore EXACTLY :func:`priority_sample` of the concatenation,
    bit for bit (tests/test_priority.py pins it).  At 100 TB this is
    the point: per-partition/per-day sketches of k+1 rows each merge
    without rescanning anything."""
    base = _priority_base(df, key_col, weight_col, group_cols, salt)
    return _priority_ranked(base, k + 1, group_cols or []).drop("prank")


def priority_merge(
    sketches: list[DataFrame], k: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Merge :func:`priority_sketch` frames over DISJOINT key sets
    into the finished sample (same schema as :func:`priority_sample`).
    Exact by the containment argument on the sketch docstring; inputs
    are |groups|·(k+1)-row frames, so the merge never touches base
    data."""
    if not sketches:
        raise ValueError("need at least one sketch")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return _priority_finalize(u, k, group_cols or [])


def sql_ph_spark(key_col: str, salt: str) -> str:
    """The 28-bit salted hash h (alpha = (h+1)/2^28) as Spark-SQL text
    (used inside F.expr so the q division stays one integral `div`)."""
    return (
        f"CAST(conv(substring(md5(concat_ws('|', '{salt}',"
        f" CAST({key_col} AS STRING))), 1, {H_HEX}), 16, 10) AS BIGINT)"
    )


def priority_sample_sql(
    source_sql: str,
    key_sql: str,
    weight_sql: str,
    k: int,
    group_cols: list[str] | None = None,
    salt: str = "prio",
    prefix: str = "pr",
) -> str:
    """DuckDB restatement of :func:`priority_sample`: same 28-bit
    salted hash, same scaled-integer floor division, same
    (q DESC, key) rank order, same threshold and estimator terms.
    Ends in ``<prefix>sample(group..., key, w, q, prank, tau, west)``.
    ``source_sql`` is a FROM-able relation (table name or subquery)."""
    x = prefix
    group_cols = group_cols or []
    gsel = "".join(f"{g}, " for g in group_cols)
    part = (
        f"PARTITION BY {', '.join(group_cols)} " if group_cols else ""
    )
    join_on = (
        " AND ".join(f"r.{g} = t.{g}" for g in group_cols)
        if group_cols
        else "TRUE"
    )
    return f"""{x}q AS (
      SELECT {gsel}{key_sql} AS key,
             CAST({weight_sql} AS BIGINT) AS w,
             (CAST({weight_sql} AS BIGINT) * {1 << P_SHIFT})
               // ({sql_priority_hash(key_sql, salt)} + 1) AS q
      FROM {source_sql}),
    {x}rk AS (
      SELECT *, row_number() OVER ({part}ORDER BY q DESC, key)
               AS prank
      FROM {x}q),
    {x}tau AS (
      SELECT {gsel}q AS tau FROM {x}rk WHERE prank = {k + 1}),
    {x}sample AS (
      SELECT {''.join(f'r.{g}, ' for g in group_cols)}r.key, r.w, r.q,
             r.prank,
             COALESCE(t.tau, 0) AS tau,
             GREATEST(r.w * {1 << E_SHIFT}, COALESCE(t.tau, 0)) AS west
      FROM {x}rk r LEFT JOIN {x}tau t ON {join_on}
      WHERE r.prank <= {k})"""
