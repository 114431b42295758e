"""Data selection via importance resampling — DSIR (Xie et al.,
"Data Selection for Language Models via Importance Resampling",
NeurIPS 2023; extension layer — no reference analogue).

A pretraining pipeline rarely wants uniform web data: it wants raw
data *reweighted toward a target domain* (a curated corpus, a
high-quality source).  DSIR's recipe, rebuilt relationally:

1. featurize every document as hashed n-gram counts (unigrams +
   bigrams hashed into ``m`` buckets — a fixed-width bag of words);
2. fit two multinomial bucket distributions: ``p`` on the target
   sample, ``q`` on the raw source (Laplace-smoothed);
3. per document, the importance log-weight is
   ``sum over its grams of log(p[bucket]/q[bucket])`` — documents
   whose n-gram profile looks like the target score high;
4. resample/filter on the weight (top-n, threshold, or Gumbel top-k).

Scale shape: the bucket tables have at most ``m`` rows (thousands) —
they broadcast; the per-doc scoring is ONE explode of the gram stream,
ONE broadcast join against the log-ratio table, ONE partial-aggregating
groupBy(doc).  Nothing in the plan grows faster than the token count,
and the two distribution fits are plain bucket-count aggregations.
At 100 TB, fit ``q`` on a hash-sampled slice of the corpus (the
estimator needs bucket frequencies, not the full corpus) — the fit
input is a parameter, not baked in.

Determinism (cross-engine hash contract): bucket ids are md5-prefix
integers (portable); counts are integers; each bucket's log-ratio is
computed from an EXACT integer-over-integer IEEE double division,
ln'd, then quantized to DECIMAL(18,6); per-doc weights are exact
DECIMAL sums of quantized entries, so summation order cannot perturb
them — the weight is REPRODUCIBLE run to run.  It is NOT portable
across libm/engine builds (a 1-ulp ln difference can cross a 0.5e-6
rounding boundary, and with ~1e5 quantized terms per query a boundary
hit somewhere is expected — the r4 driver regression), so the hash
gate verifies the exact integer precursors (n_grams, Σcnt×tc, Σcnt×sc
— these pin hashing, bucketing and both fits) plus a quantized↔float
consistency verdict; the weight itself is a serving column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo2mysql_spark.functions.text import tokens


def hashed_grams(df: DataFrame, id_col: str, text_col: str,
                 m: int = 4096, salt: str = "dsir") -> DataFrame:
    """(id, bucket) stream: unigram + bigram hashed-n-gram features.

    Each TOKEN is md5-hashed once (first 8 hex chars of ``salt|token``
    → 32-bit int, portable: DuckDB CAST('0x' || substr(md5(...), 1, 8)
    AS BIGINT)); the unigram bucket is ``h % m`` and the bigram bucket
    ``(h1*31 + h2) % m`` — integer combining instead of hashing every
    bigram STRING halves the md5 work on the hot path (hashing IS the
    dominant cost of this operator: the plan is otherwise a narrow
    no-shuffle projection).  ``h ≤ 2^32`` so ``h1*31 + h2 < 2^38`` —
    exact in int64 on both engines.  One row per gram OCCURRENCE
    (counts matter to the multinomial).
    """
    toks = tokens(F.col(text_col))
    th = F.transform(
        toks,
        lambda t: F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + "|"), t)), 1, 8), 16, 10
        ).cast("long"),
    )
    staged = df.select(F.col(id_col), th.alias("__th"))
    h = F.col("__th")
    uni = F.transform(h, lambda x: x % m)
    bi = F.when(
        F.size(h) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(h) - 1),
            lambda i: (F.element_at(h, i) * 31 + F.element_at(h, i + 1)) % m,
        ),
    ).otherwise(F.array().cast("array<long>"))
    return staged.select(
        id_col, F.explode(F.concat(uni, bi)).alias("bucket")
    )


def sql_hashed_grams(table: str, id_sql: str, text_sql: str,
                     m: int = 4096, salt: str = "dsir") -> str:
    """DuckDB restatement of :func:`hashed_grams` (oracle building block)."""
    return f"""
      SELECT {id_sql} AS id, unnest(
               list_concat(
                 list_transform(th, x -> x % {m}),
                 CASE WHEN len(th) >= 2 THEN
                   list_transform(range(1, len(th)),
                                  i -> (th[i] * 31 + th[i + 1]) % {m})
                 ELSE [] END)) AS bucket
      FROM (
        SELECT {id_sql},
               list_transform(string_split({text_sql}, ' '),
                 t -> CAST('0x' || substr(md5('{salt}|' || t), 1, 8) AS BIGINT))
                 AS th
        FROM {table})
    """


def bucket_counts(grams: DataFrame, id_col: str = "id") -> DataFrame:
    """(id, bucket, cnt) — the lossless compaction of the gram stream.

    Every downstream consumer (distribution fits, per-doc scoring) only
    needs per-doc bucket multiplicities, so compute them ONCE from the
    explode and persist THIS — it is bounded by docs × distinct buckets
    (≤ m per doc), far smaller than the raw gram stream, and it turns
    the whole DSIR pass into a single corpus tokenization.
    """
    return grams.groupBy(id_col, "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def bucket_log_ratio(
    target_counts: DataFrame,
    source_counts: DataFrame,
    m: int = 4096,
    alpha: float = 1.0,
    totals: tuple[int, int] | None = None,
) -> DataFrame:
    """Per-bucket quantized log(p_target/q_source):
    (bucket, tc, sc, llr, llr_f).

    Inputs are :func:`bucket_counts` tables.  Laplace-``alpha``
    smoothing keeps every bucket defined; buckets absent from both
    corpora get the (constant) smoothed-only ratio and are omitted — a
    gram hashing there contributes the same constant either way, and
    omitting keeps the table at observed-bucket size.  llr is
    DECIMAL(18,6) (run-to-run stable); ``tc``/``sc`` are the exact
    per-bucket integer counts and ``llr_f`` the unquantized double —
    the hash gate verifies the integers plus a quantized↔float
    consistency verdict, never the ln outputs themselves (a quantized
    transcendental is reproducible but not portable across libm
    builds — the r4 driver regression).
    """
    tc = target_counts.groupBy("bucket").agg(F.sum("cnt").alias("tc"))
    sc = source_counts.groupBy("bucket").agg(F.sum("cnt").alias("sc"))
    if totals is not None:
        # caller already knows the corpus totals (e.g. from one combined
        # action over a flagged counts table) — skip the two collects
        tt, st = totals
    else:
        tt = target_counts.agg(F.coalesce(F.sum("cnt"), F.lit(0))).first()[0]
        st = source_counts.agg(F.coalesce(F.sum("cnt"), F.lit(0))).first()[0]
    both = tc.join(sc, "bucket", "full").select(
        "bucket",
        F.coalesce("tc", F.lit(0)).alias("tc"),
        F.coalesce("sc", F.lit(0)).alias("sc"),
    )
    # p = (tc+a)/(TT+a*m), q = (sc+a)/(ST+a*m); ln(p/q) via one exact
    # double ratio (int/int division is IEEE-exact cross-engine)
    num = (F.col("tc") + F.lit(alpha)) * F.lit(float(st + alpha * m))
    den = (F.col("sc") + F.lit(alpha)) * F.lit(float(tt + alpha * m))
    llr_f = F.log(num / den)
    return both.select(
        "bucket",
        "tc",
        "sc",
        F.round(llr_f.cast("decimal(28,8)"), 6).cast("decimal(18,6)").alias("llr"),
        llr_f.alias("llr_f"),
    )


def dsir_weights(
    counts: DataFrame,
    ratios: DataFrame,
    id_col: str = "id",
) -> DataFrame:
    """Per-document importance log-weight:
    (id, n_grams, dot_tc, dot_sc, weight, weight_f).

    ``counts`` is a :func:`bucket_counts` table; ``weight`` is the
    exact DECIMAL sum of ``cnt × llr`` over the doc's buckets (missing
    buckets contribute 0 — both distributions unsmoothed-empty there,
    ratio constant; see :func:`bucket_log_ratio`).  ``ratios`` is
    bucket-bounded — the explicit broadcast keeps the plan shuffle-free
    on the corpus side at any scale.  ``dot_tc``/``dot_sc``
    (Σ cnt×tc / Σ cnt×sc, exact integers — they pin hashing, bucketing
    and both distribution fits bit-exactly on any engine) and
    ``weight_f`` (the unquantized double sum) exist for the hash gate's
    integer+verdict contract; ``weight`` is the serving column.
    """
    joined = counts.join(F.broadcast(ratios), "bucket", "left")
    contrib = F.col("cnt").cast("decimal(10,0)") * F.coalesce(
        F.col("llr"), F.lit(0).cast("decimal(18,6)")
    )
    dot = lambda c: F.sum(  # noqa: E731
        F.col("cnt").cast("decimal(19,0)")
        * F.coalesce(F.col(c), F.lit(0)).cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    return joined.groupBy(id_col).agg(
        F.sum("cnt").alias("n_grams"),
        dot("tc").alias("dot_tc"),
        dot("sc").alias("dot_sc"),
        F.sum(contrib).cast("decimal(28,6)").alias("weight"),
        F.sum(F.col("cnt") * F.coalesce(F.col("llr_f"), F.lit(0.0))).alias("weight_f"),
    )
