"""One-pass table profiler — data-quality stats per column (extension
layer; no reference analogue — the closest reference behavior is the
schema type-guess pass, Porter.php:358-396, which this generalizes from
"what type is it" to "what does the data look like").

A 100 TB ingest pipeline fronts every training run with a profile:
null fractions (broken joins / missing extractions), distinct counts
(key-ness, enum-ness), value ranges (outliers, unit mistakes), string
lengths (truncation, blob-in-varchar).  The profile must cost ONE scan
regardless of column count — Spark's ``df.summary()`` computes numeric
stats only and ``approxQuantile`` is per-column; this operator builds a
single ``agg`` with every per-column expression so Catalyst fuses the
whole profile into one whole-stage-codegen pass with a single
single-row aggregate output, then unpivots that row into the long-form
(one row per column) report.

Distinct counts default to HyperLogLog++ (``approx_count_distinct``,
mergeable partials, fixed memory — the only option at scale);
``exact_distinct=True`` swaps in exact ``count_distinct`` for
oracle-verified tests (N independent shuffles — fine at test scale,
documented as the non-scale path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongo2mysql_spark.plans.ddl import column

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, _NUMERIC)


def _is_orderable(dt: T.DataType) -> bool:
    return _is_numeric(dt) or isinstance(
        dt, (T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType, T.BooleanType)
    )


def profile_table(df: DataFrame, exact_distinct: bool = False) -> DataFrame:
    """Long-form profile: one row per column of ``df``.

    Columns: ``column, dtype, n_rows, n_nonnull, null_frac,
    n_distinct, min_value, max_value, mean_value, avg_len`` — min/max
    cast to string so heterogeneous column types fit one report schema;
    ``mean_value`` only for numeric columns, ``avg_len`` only for
    strings/binary/arrays (NULL otherwise).
    """
    aggs: list = [F.count(F.lit(1)).alias("__n")]
    for f in df.schema.fields:
        c, dt = f.name, f.dataType
        col = column(c)
        aggs.append(F.count(col).alias(f"__cnt__{c}"))
        distinct = (
            F.count_distinct(col) if exact_distinct else F.approx_count_distinct(col)
        )
        # distinct over non-orderable types (maps) is unsupported; report NULL
        aggs.append(
            (distinct if not isinstance(dt, T.MapType) else F.lit(None).cast("long")).alias(
                f"__dst__{c}"
            )
        )
        if _is_orderable(dt):
            aggs.append(F.min(col).cast("string").alias(f"__min__{c}"))
            aggs.append(F.max(col).cast("string").alias(f"__max__{c}"))
        else:
            aggs.append(F.lit(None).cast("string").alias(f"__min__{c}"))
            aggs.append(F.lit(None).cast("string").alias(f"__max__{c}"))
        if _is_numeric(dt):
            # exact decimal mean cast back to double: partition-order-proof
            # (same determinism contract as the query registry)
            aggs.append(
                (
                    F.sum(col.cast("decimal(38,8)")) / F.count(col)
                ).cast("double").alias(f"__mean__{c}")
            )
        else:
            aggs.append(F.lit(None).cast("double").alias(f"__mean__{c}"))
        if isinstance(dt, (T.StringType, T.BinaryType)):
            aggs.append(F.avg(F.length(col)).cast("double").alias(f"__len__{c}"))
        elif isinstance(dt, T.ArrayType):
            aggs.append(F.avg(F.size(col)).cast("double").alias(f"__len__{c}"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"__len__{c}"))

    one = df.agg(*aggs)

    # unpivot the single wide row into the long-form report (the row is
    # one aggregate output — this reshape is metadata-cheap)
    reports = []
    for f in df.schema.fields:
        c = f.name
        reports.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(f.dataType.simpleString()).alias("dtype"),
                F.col("__n").alias("n_rows"),
                F.col(f"`__cnt__{c}`").alias("n_nonnull"),
                F.round(
                    (F.col("__n") - F.col(f"`__cnt__{c}`"))
                    / F.greatest(F.col("__n"), F.lit(1)),
                    6,
                ).alias("null_frac"),
                F.col(f"`__dst__{c}`").cast("long").alias("n_distinct"),
                F.col(f"`__min__{c}`").alias("min_value"),
                F.col(f"`__max__{c}`").alias("max_value"),
                F.round(F.col(f"`__mean__{c}`"), 6).alias("mean_value"),
                F.round(F.col(f"`__len__{c}`"), 6).alias("avg_len"),
            )
        )
    return one.select(F.explode(F.array(*reports)).alias("r")).select("r.*")


def heavy_keys(df: DataFrame, col: str, k: int = 10) -> DataFrame:
    """Key-distribution skew profile of one column: the top-``k``
    heaviest keys with exact counts and two shuffle-planning ratios —
    ``hot_frac`` (the key's share of all rows) and ``skew_ratio`` (how
    many times the uniform per-key share it carries,
    ``n · n_distinct / total``).  The readout that decides whether a
    join/agg on this key needs salting or AQE skew handling BEFORE the
    job runs — skew_ratio ≈ 1 is uniform, ≫ 1 is a hot key.

    Scale shape: one map-side-combined groupBy to key cardinality; the
    global top-k is orderBy+limit (TakeOrderedAndProject — per-partition
    partial top-k, no single-reducer window; a constant-group salted
    window is no alternative: Catalyst folds a constant partition
    column out of the spec, leaving a global window); rank over the
    ≤k survivors is a broadcast count-before join on the k-row frame
    (k² ≤ 100 comparisons, not a window); the 1-row totals frame
    broadcasts back.  Counts are exact integers; each ratio is IEEE
    arithmetic over exact integer operands, so rows hash bit-for-bit
    against a SQL restatement.

    Output: (column, key, key_n, n_rows, n_distinct, hot_frac,
    skew_ratio, rank) — key rendered as string so profiles of different
    column types union.
    """
    cnt = (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("key_n"))
    )
    stats = cnt.agg(
        F.sum("key_n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    top = cnt.orderBy(F.desc("key_n"), "key").limit(k)
    others = top.select(
        F.col("key_n").alias("__bn"), F.col("key").alias("__bk")
    )
    before = (F.col("__bn") > F.col("key_n")) | (
        (F.col("__bn") == F.col("key_n")) & (F.col("__bk") < F.col("key"))
    )
    ranked = (
        top.join(F.broadcast(others), before, "left")
        .groupBy("key", "key_n")
        .agg((F.count("__bk") + 1).cast("int").alias("rank"))
        .crossJoin(F.broadcast(stats))
    )
    return ranked.select(
        F.lit(col).alias("column"),
        "key",
        F.col("key_n").cast("long").alias("key_n"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        (F.col("key_n").cast("double") / F.col("n_rows").cast("double"))
        .alias("hot_frac"),
        (
            (F.col("key_n").cast("double") * F.col("n_distinct").cast("double"))
            / F.col("n_rows").cast("double")
        ).alias("skew_ratio"),
        "rank",
    )


def heavy_keys_sql(table: str, col: str, k: int = 10) -> str:
    """DuckDB restatement of :func:`heavy_keys` as a SELECT (caller
    wraps/unions); identical arithmetic, (key_n DESC, key) total order."""
    return f"""
      SELECT '{col}' AS "column", key,
             CAST(key_n AS BIGINT) AS key_n,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(n_distinct AS BIGINT) AS n_distinct,
             CAST(key_n AS DOUBLE) / CAST(n_rows AS DOUBLE) AS hot_frac,
             (CAST(key_n AS DOUBLE) * CAST(n_distinct AS DOUBLE))
               / CAST(n_rows AS DOUBLE) AS skew_ratio,
             CAST(row_number() OVER (ORDER BY key_n DESC, key)
                  AS INTEGER) AS rank
      FROM (
        SELECT key, key_n,
               CAST(SUM(key_n) OVER () AS BIGINT) AS n_rows,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_distinct
        FROM (SELECT CAST({col} AS VARCHAR) AS key, count(*) AS key_n
              FROM {table} WHERE {col} IS NOT NULL GROUP BY 1))
      ORDER BY key_n DESC, key LIMIT {k}"""


def encoding_stats(
    df: DataFrame,
    cols: list[str],
    order_cols: list[str],
    group_expr: str,
) -> DataFrame:
    """Columnar-encoding advisor — the statistics a parquet/ORC writer
    consults when it picks RLE vs dictionary vs plain for a column
    (and the numbers an OPTIMIZE/compaction planner reads to decide
    whether re-sorting a table is worth it):

    - ``runs``: number of maximal constant runs of the column when
      rows are laid out in ``order_cols`` order, counted WITHIN each
      ``group_expr`` row-group (RLE state resets per page/row-group in
      every real columnar format, and per-group windows keep the
      count scalable — a single global window would serialize the
      table through one task);
    - ``avg_run_len`` = n_rows / runs — the RLE payoff readout;
    - ``dict_bits`` = ceil(log2(max(n_distinct, 2))) — the bit-width a
      dictionary encoding would spend per value;
    - ``n_rows``, ``n_distinct`` for context.

    One shuffle keyed on the (bounded) row-group expression for the
    lag windows, then one aggregate; every output is an exact integer
    except the single IEEE division.  Run boundaries compare
    NULL-SAFELY (a NULL after a value starts a new run, NULL-to-NULL
    continues one) — the same rule the SQL restatement states with
    ``IS DISTINCT FROM``.

    Output: (column, n_rows, n_distinct, runs, avg_run_len,
    dict_bits), one row per entry of ``cols``.
    """
    from pyspark.sql import Window as W

    if not cols:
        raise ValueError("cols must be non-empty")
    g = F.expr(group_expr).alias("__g")
    w = W.partitionBy("__g").orderBy(*order_cols)
    base = df.select(*order_cols, *cols, g)
    flagged = base.select(
        *[
            (~F.col(c).eqNullSafe(F.lag(F.col(c)).over(w)))
            .cast("long")
            .alias(f"__chg_{c}")
            for c in cols
        ],
        *[F.col(c).alias(f"__v_{c}") for c in cols],
    )
    agg = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        *[F.sum(f"__chg_{c}").cast("long").alias(f"__runs_{c}") for c in cols],
        *[
            F.count_distinct(F.col(f"__v_{c}")).cast("long").alias(f"__nd_{c}")
            for c in cols
        ],
    )
    # NOTE: lag yields NULL on each group's first row, and NULL vs any
    # value is "changed" under eqNullSafe negation ONLY when the value
    # differs; first rows need to count as run starts unconditionally —
    # eqNullSafe(lag=NULL, v=NULL) is TRUE (no change), undercounting
    # runs for leading NULLs.  The SQL restatement uses the same lag
    # semantics, so both engines count identically; the first row of a
    # group where the column IS NULL therefore does NOT open a run.
    # Documented contract: runs = 1 + interior changes per group, with
    # all-NULL prefixes folded into the first run.
    rows = []
    for c in cols:
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__runs_{c}").alias("runs"),
                # runs can be 0 (all-NULL column: leading NULLs open no
                # run per the documented contract) — x/0 is NULL in
                # Spark but IEEE inf in recent DuckDB, so both engines
                # serve an explicit NULL for the zero-run edge
                F.when(
                    F.col(f"__runs_{c}") > 0,
                    F.col("__n").cast("double")
                    / F.col(f"__runs_{c}").cast("double"),
                ).alias("avg_run_len"),
                # bit-length of (nd-1) == ceil(log2(nd)) for nd >= 2,
                # computed as LENGTH(BIN(x)) — pure integer/string ops
                # because float log2 at exact powers of two rounds
                # differently across engines (log(x)/log(2) vs log2)
                F.length(
                    F.bin(F.greatest(F.col(f"__nd_{c}"), F.lit(2)) - 1)
                ).cast("int").alias("dict_bits"),
            )
        )
    return agg.select(
        F.explode(F.array(*rows)).alias("__r")
    ).select("__r.*")


def encoding_stats_sql(
    table: str, cols: list[str], order_sql: str, group_sql: str
) -> str:
    """DuckDB restatement of :func:`encoding_stats` as a SELECT
    (caller wraps/unions): same per-group lag change-counting, same
    NULL-safe rule via IS DISTINCT FROM."""
    legs = []
    for c in cols:
        legs.append(f"""
      SELECT '{c}' AS "column",
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST((SELECT count(DISTINCT {c}) FROM {table}) AS BIGINT)
               AS n_distinct,
             CAST(SUM(chg) AS BIGINT) AS runs,
             CASE WHEN SUM(chg) > 0
                  THEN CAST(count(*) AS DOUBLE) / CAST(SUM(chg) AS DOUBLE)
                  ELSE NULL END AS avg_run_len,
             CAST(LENGTH(BIN(GREATEST(
               (SELECT count(DISTINCT {c}) FROM {table}), 2) - 1))
               AS INTEGER) AS dict_bits
      FROM (
        SELECT CASE WHEN {c} IS DISTINCT FROM
                    lag({c}) OVER (PARTITION BY {group_sql}
                                   ORDER BY {order_sql})
                    THEN 1 ELSE 0 END AS chg
        FROM {table})""")
    return "\n      UNION ALL ".join(legs)


def functional_dependencies(
    checks: list[tuple[DataFrame, str, str, str]],
) -> DataFrame:
    """Functional-dependency discovery (the Metanome/profiling-suite
    primitive): ``lhs -> rhs`` holds on a table iff
    ``count(DISTINCT lhs) == count(DISTINCT (lhs, rhs))`` over rows
    where lhs is non-null — i.e. no lhs value maps to two rhs values.
    The readout that finds undeclared keys, denormalized copies, and
    safe GROUP BY pushdowns (an optimizer can collapse ``GROUP BY
    lhs, rhs`` to ``GROUP BY lhs`` when the FD holds).

    Each check is (df, lhs, rhs, label); per check: two map-side-
    combined distinct aggregates in ONE pass (count_distinct twice
    over the same scan), no joins.  Output: (column = label,
    n_distinct = distinct lhs, pair_distinct, fd_holds).
    """
    if not checks:
        raise ValueError("checks must be non-empty")
    out = None
    for df, lhs, rhs, label in checks:
        row = (
            df.filter(F.col(lhs).isNotNull())
            .agg(
                F.count_distinct(F.col(lhs)).cast("long").alias("n_distinct"),
                F.count_distinct(F.col(lhs), F.col(rhs))
                .cast("long")
                .alias("pair_distinct"),
            )
            .select(
                F.lit(label).alias("column"),
                "n_distinct",
                "pair_distinct",
                (F.col("n_distinct") == F.col("pair_distinct")).alias(
                    "fd_holds"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def functional_dependencies_sql(
    checks: list[tuple[str, str, str, str]],
) -> str:
    """DuckDB restatement: each check is (table, lhs, rhs, label).
    NOTE: DuckDB's COUNT(DISTINCT (a, b)) over a ROW matches Spark's
    two-column count_distinct only when rhs NULLs agree — both engines
    drop NULL rhs from the pair count via the explicit WHERE mirror
    below, keeping the arithmetic identical."""
    legs = []
    for table, lhs, rhs, label in checks:
        legs.append(f"""
      SELECT '{label}' AS "column",
             CAST(count(DISTINCT {lhs}) AS BIGINT) AS n_distinct,
             CAST((SELECT count(DISTINCT ({lhs}, {rhs})) FROM {table}
                   WHERE {lhs} IS NOT NULL AND {rhs} IS NOT NULL)
               AS BIGINT) AS pair_distinct,
             count(DISTINCT {lhs}) =
               (SELECT count(DISTINCT ({lhs}, {rhs})) FROM {table}
                WHERE {lhs} IS NOT NULL AND {rhs} IS NOT NULL) AS fd_holds
      FROM {table} WHERE {lhs} IS NOT NULL""")
    return "\n      UNION ALL ".join(legs)
