"""Z-order (Morton) clustering — multi-dimensional data-skipping
layout (extension layer; Morton 1966, the interleaved-key curve
behind multi-dim clustering in production lakehouses and the
UB-tree, Bayer 1997).

Why it matters at 100 TB: engines skip data through per-file min/max
statistics (parquet row-group stats / zone maps — Spark's scans prune
on them automatically).  A LINEAR sort bounds only the leading sort
column per file; any predicate on a second column still reads every
file.  Interleaving the bits of k columns into one Morton key and
range-clustering on it bounds EVERY interleaved column per file, so a
selective predicate on ANY of them prunes — the layout decision is
the scale lever, and this module makes it a first-class, driver-
hashable operator:

- :func:`z_value` is pure integer bit arithmetic (shift/and/or), bit-
  identical in DuckDB, so Morton keys themselves hash cross-engine;
- :func:`layout_bucket_stats` emits the per-bucket (count, min/max
  per column) boxes for the z, linear and Hilbert layouts side by
  side — the zone-map geometry both engines can verify;
- :func:`prune_counts` evaluates a rectangular predicate against
  those boxes: how many buckets (files) must be read under each
  layout — the actual skipping win, as exact integers.

Inputs are validated into [0, 2^bits) at plan-build and the interleave
never exceeds 62 bits, so everything stays in BIGINT on both engines.
`cluster_by_z` is the write-side: repartitionByRange on the Morton
key + sortWithinPartitions, which is exactly the layout the stats
rows describe (range partitioner boundaries = bucket boundaries up to
sampling; the stats operator uses fixed-width key ranges so the gate
is deterministic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _guard(c: Column, bits: int, name: str) -> Column:
    return F.when((c >= 0) & (c < (1 << bits)), c).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"z_value: {name} out of [0, 2^{bits}): "),
                c.cast("string"),
            )
        )
    )


def z_value(cols: list[Column], bits: int) -> Column:
    """Interleave the low ``bits`` bits of each column (col j's bit b
    lands at position b·n + j) — the Morton key.  n·bits <= 62."""
    n = len(cols)
    if not cols or n * bits > 62:
        raise ValueError(f"need 1..k columns with k*bits <= 62, got "
                         f"{n} x {bits}")
    cs = [_guard(c.cast("long"), bits, f"col{j}")
          for j, c in enumerate(cols)]
    z = F.lit(0).cast("long")
    for b in range(bits):
        for j, c in enumerate(cs):
            z = z + F.shiftleft(
                F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + j
            )
    return z


def sql_z_value(cols_sql: list[str], bits: int) -> str:
    """DuckDB twin of :func:`z_value` (same shifts, same positions)."""
    n = len(cols_sql)
    if not cols_sql or n * bits > 62:
        raise ValueError("need 1..k columns with k*bits <= 62")
    terms = []
    for b in range(bits):
        for j, c in enumerate(cols_sql):
            terms.append(
                f"(((CAST({c} AS BIGINT) >> {b}) & 1) << {b * n + j})"
            )
    return "(" + " + ".join(terms) + ")"


def cluster_by_z(
    df: DataFrame, cols: list[str], bits: int, n_files: int
) -> DataFrame:
    """The write-side layout: range-partition on the Morton key into
    ``n_files`` partitions and sort within each — every partition's
    min/max box is tight in EVERY interleaved column (what the scan's
    row-group pruning consumes).  Returns the frame ready for
    ``.write.parquet`` with the key dropped."""
    z = z_value([F.col(c) for c in cols], bits).alias("__z")
    return (
        df.select("*", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def _norm_base(df: DataFrame, cols: list[str], bits: int) -> DataFrame:
    """(c0, c1, nc0, nc1): raw pair + the range-normalized pair in
    [0, 2^bits) — shared by the z and Hilbert stats."""
    dom = df.agg(
        F.min(F.col(cols[0]).cast("long")).alias("__lo0"),
        (F.max(F.col(cols[0]).cast("long"))
         - F.min(F.col(cols[0]).cast("long")) + 1).alias("__sp0"),
        F.min(F.col(cols[1]).cast("long")).alias("__lo1"),
        (F.max(F.col(cols[1]).cast("long"))
         - F.min(F.col(cols[1]).cast("long")) + 1).alias("__sp1"),
    )
    return (
        df.select(
            F.col(cols[0]).cast("long").alias("c0"),
            F.col(cols[1]).cast("long").alias("c1"),
        )
        .crossJoin(F.broadcast(dom))
        .selectExpr(
            "c0", "c1",
            f"((c0 - __lo0) * {1 << bits}) div __sp0 as nc0",
            f"((c1 - __lo1) * {1 << bits}) div __sp1 as nc1",
        )
    )


def sql_z_bucket_stats(
    source_sql: str, cols_sql: list[str], bits: int, n_buckets: int,
    prefix: str = "zb",
) -> str:
    """DuckDB twin of :func:`layout_bucket_stats`' 'z' and 'linear'
    rows; ends in
    ``<prefix>stats(layout, bucket, n, min0, max0, min1, max1)``."""
    n = len(cols_sql)
    if n != 2:
        raise ValueError("sql_z_bucket_stats compares 2-column layouts")
    if n_buckets < 2 or n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two: {n_buckets}")
    x = prefix
    shift = n * bits - (n_buckets - 1).bit_length()
    lshift = bits - (n_buckets - 1).bit_length()
    zexpr = sql_z_value(["nc0", "nc1"], bits)
    c0, c1 = cols_sql
    return f"""{x}dom AS (
      SELECT CAST(min({c0}) AS BIGINT) AS lo0,
             CAST(max({c0}) - min({c0}) + 1 AS BIGINT) AS sp0,
             CAST(min({c1}) AS BIGINT) AS lo1,
             CAST(max({c1}) - min({c1}) + 1 AS BIGINT) AS sp1
      FROM {source_sql}),
    {x}base AS (
      SELECT CAST({c0} AS BIGINT) AS c0, CAST({c1} AS BIGINT) AS c1,
             ((CAST({c0} AS BIGINT) - d.lo0) * {1 << bits}) // d.sp0
               AS nc0,
             ((CAST({c1} AS BIGINT) - d.lo1) * {1 << bits}) // d.sp1
               AS nc1
      FROM {source_sql} CROSS JOIN {x}dom d),
    {x}rows AS (
      SELECT 'z' AS layout, ({zexpr} >> {shift}) AS bucket, c0, c1
      FROM {x}base
      UNION ALL
      SELECT 'linear' AS layout, (nc0 >> {lshift}) AS bucket, c0, c1
      FROM {x}base),
    {x}stats AS (
      SELECT layout, bucket, CAST(count(*) AS BIGINT) AS n,
             min(c0) AS min0, max(c0) AS max0,
             min(c1) AS min1, max(c1) AS max1
      FROM {x}rows GROUP BY layout, bucket)"""


def prune_counts(
    stats: DataFrame,
    lo0: int, hi0: int, lo1: int, hi1: int,
) -> DataFrame:
    """Evaluate the rectangular predicate [lo0,hi0]x[lo1,hi1] against
    the zone-map boxes: per layout, how many buckets must be READ
    (box intersects the predicate) and how many rows those buckets
    hold — the skipping win as exact integers."""
    hit = (
        (F.col("max0") >= lo0) & (F.col("min0") <= hi0)
        & (F.col("max1") >= lo1) & (F.col("min1") <= hi1)
    )
    return (
        stats.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(hit.cast("long")).alias("buckets_read"),
            F.sum(F.when(hit, F.col("n")).otherwise(0))
            .cast("long")
            .alias("rows_read"),
        )
    )


def sql_prune_counts(
    stats_cte: str, lo0: int, hi0: int, lo1: int, hi1: int,
    prefix: str = "zp",
) -> str:
    """DuckDB twin of :func:`prune_counts` over ``<stats_cte>``; ends
    in ``<prefix>counts(layout, n_buckets, buckets_read, rows_read)``."""
    x = prefix
    hit = (
        f"(max0 >= {lo0} AND min0 <= {hi0}"
        f" AND max1 >= {lo1} AND min1 <= {hi1})"
    )
    return f"""{x}counts AS (
      SELECT layout, CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(SUM(CASE WHEN {hit} THEN 1 ELSE 0 END) AS BIGINT)
               AS buckets_read,
             CAST(SUM(CASE WHEN {hit} THEN n ELSE 0 END) AS BIGINT)
               AS rows_read
      FROM {stats_cte} GROUP BY layout)"""


# ------------------------------------------------------------------ hilbert


def _hilbert_step(s: int) -> tuple[str, str, str]:
    """One Hilbert xy→d iteration (the classic bit-level walk with
    quadrant rotation) over state columns __hx/__hy/__hd, as
    DIALECT-FREE SQL (CASE + bitwise AND + arithmetic — the same text
    runs on Spark SQL and DuckDB).  ``(3·rx) XOR ry`` is unrolled to
    a CASE so no engine-specific xor spelling is needed."""
    rx = f"(CASE WHEN (__hx & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN (__hy & {s}) > 0 THEN 1 ELSE 0 END)"
    dadd = (
        f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0"
        f" WHEN {rx} = 0 THEN 1"
        f" WHEN {ry} = 0 THEN 3 ELSE 2 END)"
    )
    hx = (
        f"(CASE WHEN {ry} = 1 THEN __hx"
        f" WHEN {rx} = 1 THEN {s - 1} - __hy ELSE __hy END)"
    )
    hy = (
        f"(CASE WHEN {ry} = 1 THEN __hy"
        f" WHEN {rx} = 1 THEN {s - 1} - __hx ELSE __hx END)"
    )
    hd = f"__hd + {s * s} * {dadd}"
    return hx, hy, hd


def hilbert_ref(x: int, y: int, bits: int) -> int:
    """Pure-python reference of the same walk (tests pin the SQL
    against it)."""
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def with_hilbert(
    df: DataFrame, xcol: str, ycol: str, bits: int, out: str = "hd"
) -> DataFrame:
    """Append the Hilbert index of (xcol, ycol) — both already in
    [0, 2^bits) — as ``out``: ``bits`` chained selects carrying the
    (x, y, d) state, each step one fixed-size expression (no nesting
    blowup)."""
    base_cols = df.columns
    cur = df.selectExpr(
        *base_cols,
        f"CAST({xcol} AS BIGINT) AS __hx",
        f"CAST({ycol} AS BIGINT) AS __hy",
        "CAST(0 AS BIGINT) AS __hd",
    )
    for b in range(bits - 1, -1, -1):
        hx, hy, hd = _hilbert_step(1 << b)
        cur = cur.selectExpr(
            *base_cols,
            f"{hx} AS __hx",
            f"{hy} AS __hy",
            f"{hd} AS __hd",
        )
    return cur.selectExpr(*base_cols, f"__hd AS {out}")


def sql_with_hilbert(
    base_cte: str, pass_cols: list[str], xcol: str, ycol: str,
    bits: int, prefix: str = "hb", out: str = "hd",
) -> str:
    """DuckDB twin of :func:`with_hilbert` as a chain of CTEs over
    ``base_cte``; ends in ``<prefix>{bits}(pass_cols..., <out>)`` —
    the SAME step expressions, so the walk is engine-identical."""
    x = prefix
    cols = ", ".join(pass_cols)
    ctes = [
        f"{x}0 AS (SELECT {cols}, CAST({xcol} AS BIGINT) AS __hx,"
        f" CAST({ycol} AS BIGINT) AS __hy,"
        f" CAST(0 AS BIGINT) AS __hd FROM {base_cte})"
    ]
    step = 0
    for b in range(bits - 1, -1, -1):
        hx, hy, hd = _hilbert_step(1 << b)
        step += 1
        ctes.append(
            f"{x}{step} AS (SELECT {cols}, {hx} AS __hx, {hy} AS __hy,"
            f" {hd} AS __hd FROM {x}{step - 1})"
        )
    ctes.append(
        f"{x}{bits + 1} AS (SELECT {cols}, __hd AS {out} FROM {x}{bits})"
    )
    return ",\n    ".join(ctes)


def layout_bucket_stats(
    df: DataFrame, cols: list[str], bits: int, n_buckets: int
) -> DataFrame:
    """Per-bucket zone-map boxes under the z, linear (leading-column
    sort) and Hilbert layouts in ONE pass — deterministic fixed-width
    key ranges so both engines agree exactly (DuckDB twins:
    :func:`sql_z_bucket_stats` and :func:`sql_hilbert_bucket_stats`,
    unioned; tested).

    Columns are RANGE-NORMALIZED to ``bits`` bits before interleaving
    (``((c - lo)·2^bits) DIV (hi - lo + 1)`` with data-derived lo/hi —
    the standard z-order recipe; interleaving RAW values with unequal
    domains wastes the top interleave bits on the narrow column's
    constant zeros and degenerates to a coarse linear layout).  The
    reported min/max boxes are raw-domain (what a scan's row-group
    pruning consumes).

    Output: (layout, bucket, n, min0, max0, min1, max1); z and Hilbert
    buckets split the top log2(n_buckets) bits of the normalized curve
    index, linear buckets split the LEADING column's normalized value
    the same way.  The shared normalized base (+ Hilbert walk) fans out
    to the three (layout, bucket) tags via a narrow explode, and one
    map-side-combined groupBy aggregates all layouts together, so the
    domain aggregate and the main pass run once for all three."""
    n = len(cols)
    if n != 2:
        raise ValueError("layout_bucket_stats compares 2-column layouts")
    if n_buckets < 2 or n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two: {n_buckets}")
    shift = n * bits - (n_buckets - 1).bit_length()
    lshift = bits - (n_buckets - 1).bit_length()
    base = with_hilbert(
        _norm_base(df, cols, bits), "nc0", "nc1", bits, out="hd"
    )
    z = z_value([F.col("nc0"), F.col("nc1")], bits)
    tagged = base.select(
        "c0",
        "c1",
        F.explode(
            F.array(
                F.struct(
                    F.lit("z").alias("layout"),
                    F.shiftright(z, shift).cast("long").alias("bucket"),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.shiftright(F.col("nc0"), lshift)
                    .cast("long")
                    .alias("bucket"),
                ),
                F.struct(
                    F.lit("hilbert").alias("layout"),
                    F.shiftright(F.col("hd"), shift)
                    .cast("long")
                    .alias("bucket"),
                ),
            )
        ).alias("__lb"),
    ).select("c0", "c1", F.col("__lb.layout"), F.col("__lb.bucket"))
    return tagged.groupBy("layout", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c0").alias("min0"),
        F.max("c0").alias("max0"),
        F.min("c1").alias("min1"),
        F.max("c1").alias("max1"),
    )


def sql_hilbert_bucket_stats(
    source_sql: str, cols_sql: list[str], bits: int, n_buckets: int,
    prefix: str = "hb",
) -> str:
    """DuckDB twin of :func:`layout_bucket_stats`' 'hilbert' rows; ends in
    ``<prefix>stats(layout, bucket, n, min0, max0, min1, max1)``.
    Reuses the same normalization CTE shape as the z restatement
    (its own prefix, so the two can coexist in one WITH list)."""
    n = len(cols_sql)
    if n != 2:
        raise ValueError("sql_hilbert_bucket_stats compares 2-column layouts")
    if n_buckets < 2 or n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two: {n_buckets}")
    x = prefix
    shift = 2 * bits - (n_buckets - 1).bit_length()
    c0, c1 = cols_sql
    walk = sql_with_hilbert(
        f"{x}base", ["c0", "c1"], "nc0", "nc1", bits,
        prefix=f"{x}w", out="hd",
    )
    return f"""{x}dom AS (
      SELECT CAST(min({c0}) AS BIGINT) AS lo0,
             CAST(max({c0}) - min({c0}) + 1 AS BIGINT) AS sp0,
             CAST(min({c1}) AS BIGINT) AS lo1,
             CAST(max({c1}) - min({c1}) + 1 AS BIGINT) AS sp1
      FROM {source_sql}),
    {x}base AS (
      SELECT CAST({c0} AS BIGINT) AS c0, CAST({c1} AS BIGINT) AS c1,
             ((CAST({c0} AS BIGINT) - d.lo0) * {1 << bits}) // d.sp0
               AS nc0,
             ((CAST({c1} AS BIGINT) - d.lo1) * {1 << bits}) // d.sp1
               AS nc1
      FROM {source_sql} CROSS JOIN {x}dom d),
    {walk},
    {x}stats AS (
      SELECT 'hilbert' AS layout, (hd >> {shift}) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             min(c0) AS min0, max(c0) AS max0,
             min(c1) AS min1, max(c1) AS max1
      FROM {x}w{bits + 1} GROUP BY 1, 2)"""
