"""Deterministic hash-based splits and samples (extension layer).

A training-data pipeline needs train/val/test assignment and
down-sampling that are (a) reproducible run-to-run, (b) stable under
repartitioning, and (c) leakage-free (a document's split never depends
on which partition or executor saw it).  Spark's ``df.sample`` /
``randomSplit`` are none of these — they seed per-partition RNGs, so a
repartition reshuffles the sample.

The portable primitive: bucket a record's KEY by the first two hex
chars of a salted md5 (256 buckets) and compare hex strings
lexicographically.  md5 hex is identical in Spark and DuckDB, hex
strings order identically, so every assignment is bit-reproducible
cross-engine — the oracle checks the actual split logic, not a
statistical proxy.

Scale shape: pure per-row expressions (one md5 per key per salt) —
narrow, no shuffle, whole-stage codegen.  Changing the salt re-rolls
every assignment independently (use one salt per experiment).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKETS = 256  # two hex chars


def _hex_bucket(key: Column, salt: str) -> Column:
    """First two hex chars of md5('<salt>|<key>') — 256 equal buckets."""
    return F.substring(F.md5(F.concat_ws("|", F.lit(salt), key.cast("string"))), 1, 2)


def _threshold(frac: float) -> str:
    """Hex threshold t such that (bucket < t) covers round(256*frac) buckets."""
    return format(max(0, min(BUCKETS, round(BUCKETS * frac))), "02x")


def hash_split(key: Column, train: float = 0.8, val: float = 0.1,
               salt: str = "split") -> Column:
    """'train' / 'val' / 'test' label from the key's salted hash bucket."""
    b = _hex_bucket(key, salt)
    return (
        F.when(b < F.lit(_threshold(train)), "train")
        .when(b < F.lit(_threshold(train + val)), "val")
        .otherwise("test")
    )


def group_hash_split(group: Column, train: float = 0.8, val: float = 0.1,
                     salt: str = "split") -> Column:
    """Leakage-safe (group-aware) split: the split label is a function
    of a GROUP key — host, source, author, conversation id — so every
    row of a group lands in the same split (scikit-learn's
    GroupShuffleSplit semantics, made deterministic).  This is the
    standard guard against near-duplicate leakage across train/test:
    hash-splitting by document id puts two same-site near-dups on both
    sides of the split; hash-splitting by their group cannot.  Same
    salted-md5 bucket primitive, so it composes with hash_split
    (identical salt → a group's rows get the label its key would)."""
    return hash_split(group, train, val, salt)


def hash_sample_flag(key: Column, rate: float = 0.1, salt: str = "sample") -> Column:
    """1 if the key falls in the deterministic ``rate`` sample, else 0."""
    return F.when(_hex_bucket(key, salt) < F.lit(_threshold(rate)), 1).otherwise(0)


def weighted_mixture_flag(
    key: Column,
    domain: Column,
    rates: dict[str, float],
    default: float = 0.0,
    salt: str = "mix",
) -> Column:
    """Data-mixing sampler: keep each row with ITS DOMAIN'S rate —
    the standard way a training run reweights sources (e.g. upsample
    books, downsample crawl).  Same salted-md5 bucket primitive, so the
    mixture is reproducible, repartition-stable, and leakage-free; the
    per-domain threshold is one chained ``when`` expression (narrow,
    codegen)."""
    b = _hex_bucket(key, salt)
    thr = F.lit(_threshold(default))
    for dom, rate in sorted(rates.items()):
        thr = F.when(domain == F.lit(dom), F.lit(_threshold(rate))).otherwise(thr)
    return F.when(b < thr, 1).otherwise(0)


def sql_weighted_mixture_flag(
    key_sql: str,
    domain_sql: str,
    rates: dict[str, float],
    default: float = 0.0,
    salt: str = "mix",
) -> str:
    """DuckDB mirror of ``weighted_mixture_flag`` (same chained CASE)."""
    b = sql_hex_bucket(key_sql, salt)
    case = f"'{_threshold(default)}'"
    for dom, rate in sorted(rates.items()):
        case = f"CASE WHEN {domain_sql} = '{dom}' THEN '{_threshold(rate)}' ELSE {case} END"
    return f"CASE WHEN {b} < {case} THEN 1 ELSE 0 END"


def shuffle_shard(key: Column, n_shards: int, salt: str = "shuffle") -> tuple[Column, Column]:
    """Deterministic global corpus shuffle: ``(shard, shuffle_rank)``.

    The final step of every training-data pipeline — shuffle the corpus
    and write a fixed number of shards — without a global sort: a 48-bit
    salted-md5 rank gives each record a reproducible random position;
    ``shard = rank % n_shards`` spreads records uniformly; ordering
    within a shard by rank completes the permutation.  One narrow
    projection + one shuffle keyed on shard, at any scale.  Same salt →
    same permutation, run-to-run and engine-to-engine (DuckDB mirror:
    `sql_shuffle_shard`)."""
    h = F.md5(F.concat_ws("|", F.lit(salt), key.cast("string")))
    rank = F.conv(F.substring(h, 1, 12), 16, 10).cast("long")
    return (rank % n_shards).cast("int"), rank


def sql_shuffle_shard(key_sql: str, n_shards: int, salt: str = "shuffle") -> tuple[str, str]:
    """DuckDB mirror of ``shuffle_shard`` (same md5-prefix integer)."""
    rank = (
        f"CAST('0x' || substr(md5('{salt}' || '|' || CAST({key_sql} AS VARCHAR)), 1, 12) "
        f"AS BIGINT)"
    )
    return f"CAST({rank} % {n_shards} AS INTEGER)", rank


def stratified_fixed_n(
    df, strata_cols: list[str], key_col: str, n: int, salt: str = "fixedn"
):
    """Exactly min(n, stratum size) rows per stratum, deterministically:
    rank every row by its salted md5 (a reproducible random order) and
    keep the first ``n`` per stratum — the standard way to build
    balanced eval slices (n docs per language/source) without RNG.
    Repartition-stable and engine-portable like every sampler here;
    rides the two-phase salted top-k so a giant stratum never sorts on
    one reducer.  Output keeps input columns (rank dropped)."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.skew import salted_topk_per_group

    order = F.md5(F.concat_ws("|", F.lit(salt), F.col(key_col).cast("string")))
    return salted_topk_per_group(
        df.withColumn("__ord", order), strata_cols,
        [F.col("__ord"), F.col(key_col)], n,
    ).drop("__ord", "rank")


def sql_hex_bucket(key_sql: str, salt: str) -> str:
    """DuckDB mirror of ``_hex_bucket`` (same md5, same hex compare)."""
    return f"substr(md5('{salt}' || '|' || CAST({key_sql} AS VARCHAR)), 1, 2)"


def sql_hash_split(key_sql: str, train: float = 0.8, val: float = 0.1,
                   salt: str = "split") -> str:
    b = sql_hex_bucket(key_sql, salt)
    return (
        f"CASE WHEN {b} < '{_threshold(train)}' THEN 'train' "
        f"WHEN {b} < '{_threshold(train + val)}' THEN 'val' "
        f"ELSE 'test' END"
    )


def sql_hash_sample_flag(key_sql: str, rate: float = 0.1, salt: str = "sample") -> str:
    return f"CASE WHEN {sql_hex_bucket(key_sql, salt)} < '{_threshold(rate)}' THEN 1 ELSE 0 END"


def systematic_weighted_select(
    df: "DataFrame",  # noqa: F821 - forward ref, imported below
    weight_col: str,
    order_cols: "list[str] | str",
    k: int,
) -> "DataFrame":
    """Deterministic weight-proportional selection of exactly ``k``
    sample slots — the transcendental-free counterpart of weighted
    reservoir sampling (A-ES/Gumbel tricks need exp/ln, which the
    cross-engine hash contract forbids).

    Classic systematic (fractional-interval) sampling: lay the rows out
    on the cumulative-weight axis in ``order_cols`` order and drop a
    sample point at every multiple of ``total/k``.  Row i with weight w
    and exclusive prefix sum c owns the interval [c, c+w); the number
    of sample points inside it is

        picks_i = floor((c + w)·k / total) − floor(c·k / total)

    — pure integer arithmetic (requires ``k · total`` inside BIGINT; at
    k=10³ and 10¹² corpus tokens that is 10¹⁵ ≪ 2⁶³).  Σ picks = k
    exactly; E[picks_i] ∝ w under any fixed order; a row heavier than
    total/k is picked multiple times (epochs, exactly like UniMax's
    integer epoch allocation).

    Scale shape: the prefix sum is the two-phase range-partition scheme
    (operators/sequence.add_running_total_two_phase — never a
    no-partition window); the 1-row total broadcasts back; everything
    else is a narrow projection.

    Output: input columns + ``cum_before`` (BIGINT), ``picks``
    (INTEGER), ``selected`` (BOOLEAN = picks ≥ 1).
    """
    from mongo2mysql_spark.operators.sequence import (
        add_running_total_two_phase,
    )

    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    cum = add_running_total_two_phase(
        df, weight_col, order_cols, out_col="cum_before", exclusive=True
    )
    total = df.agg(F.sum(F.col(weight_col).cast("long")).alias("__total"))
    w = F.col(weight_col).cast("long")
    picks = F.expr(
        f"((cum_before + CAST({weight_col} AS BIGINT)) * {k}) DIV __total"
    ) - F.expr(f"(cum_before * {k}) DIV __total")
    return (
        cum.crossJoin(F.broadcast(total))
        .withColumn("picks", picks.cast("int"))
        .withColumn("selected", F.col("picks") >= 1)
        .drop("__total")
    )


def sql_systematic_weighted_select(
    table: str, id_col: str, weight_expr: str, k: int
) -> str:
    """DuckDB restatement of :func:`systematic_weighted_select` over
    ``table`` ordered by ``id_col``; emits CTE ``syssel(<id>, w,
    cum_before, picks, selected)``."""
    return f"""sysw AS (
      SELECT {id_col}, CAST({weight_expr} AS BIGINT) AS w FROM {table}),
    syscum AS (
      SELECT {id_col}, w,
             CAST(COALESCE(SUM(w) OVER (ORDER BY {id_col}
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum_before,
             CAST(SUM(w) OVER () AS BIGINT) AS total
      FROM sysw),
    syssel AS (
      SELECT {id_col}, w, cum_before,
             CAST(((cum_before + w) * {k}) // total
                  - (cum_before * {k}) // total AS INTEGER) AS picks,
             ((cum_before + w) * {k}) // total
               - (cum_before * {k}) // total >= 1 AS selected
      FROM syscum)"""


def mix_gini(
    df: DataFrame, group_col: str, label_col: str
) -> DataFrame:
    """Gini diversity of the label mix per group — the shard-balance
    readout of a shuffled training corpus (a good shuffle gives every
    shard near-equal domain diversity; a bad one produces low-Gini
    shards that train on one domain for a whole pass).

    Entropy needs ln (barred from hash-gated columns); Gini impurity
    carries the same diversity signal in the integer form

        gini = (tot² − Σ n_d²) / tot²

    — numerator and denominator exact integers (DECIMAL(38,0) here,
    HUGEINT in the DuckDB restatement), the served float ONE IEEE
    division.  Plan: two map-side-combined hash aggregates, nothing
    group×group.

    Returns (group_col, n_rows, n_labels, gini); a single-label group
    reports gini = 0.
    """
    cnt = df.groupBy(group_col, label_col).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    dec = "decimal(38,0)"
    per = cnt.groupBy(group_col).agg(
        F.sum("__n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_labels"),
        F.sum(F.col("__n").cast("decimal(19,0)") * F.col("__n")).cast(dec)
        .alias("__sumsq"),
    )
    tot2 = (
        F.col("n_rows").cast("decimal(19,0)")
        * F.col("n_rows").cast("decimal(19,0)")
    ).cast(dec)
    return per.select(
        group_col,
        "n_rows",
        "n_labels",
        (
            (tot2 - F.col("__sumsq")).cast("double")
            / tot2.cast("double")
        ).alias("gini"),
    )
