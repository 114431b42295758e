"""Deduplication operators (extension layer): exact, content-hash,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Portability design: every hash is built from md5 hex strings (identical
in Spark and DuckDB), so signatures — and therefore candidate pairs —
are bit-reproducible across engines and runs.  Taking the *minimum of
md5(i || shingle) as a string* per hash index i is a valid MinHash
family (each salted md5 is an approximately-uniform permutation of the
shingle space; the lexicographic min of hex strings is the min under
that permutation).

Scale shapes (the point of each algorithm at 100 TB):
- exact/content-hash: one shuffle on the hash key;
- MinHash LSH: signatures are a narrow projection; the only shuffle is
  groupBy(band_hash), and candidate verification touches only
  same-bucket pairs — never all-pairs;
- SimHash: narrow projection + groupBy on band prefix;
- n-gram Jaccard: explode(shingle) self-join — quadratic in the hottest
  shingle's frequency, so production use caps shingle document
  frequency (drop shingles appearing in > df_max docs: stopword-shingle
  prefix filtering); exposed here with the cap as a parameter;
- embedding near-dup: blocked on a key (label / LSH bucket), cosine on
  candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel




# ------------------------------------------------------------------- exact


def dedup_exact(df: DataFrame, cols: list[str], order_col: str) -> DataFrame:
    """Keep one deterministic representative (min ``order_col``) per
    distinct combination of ``cols``.  ``dropDuplicates`` keeps an
    *arbitrary* row — fine for throughput, wrong for reproducible
    pipelines — so the engine's dedup is rank-based."""
    w = W.partitionBy(*cols).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def content_hash(col: Column) -> Column:
    """sha256 hex of the content — the exact-dedup key for long text
    (grouping on a 64-char hash beats shuffling megabyte documents)."""
    return F.sha2(col, 256)


def dedup_exact_incremental(
    new_df: DataFrame, store_keys: DataFrame, cols: list[str], order_col: str
) -> DataFrame:
    """Per-ingest exact dedup against a persisted key store: drop new
    rows whose dedup key already exists in the store, then dedup the
    batch internally (rank-based, same representative rule as
    `dedup_exact`).  The store is just the distinct ``cols`` of
    everything previously admitted — at 100 TB a parquet table of
    64-char hashes, a left-anti equi-join away.  Survivors' keys are
    what the caller appends back to the store; running this per
    partition of a corpus and unioning admits exactly the same rows as
    one full-corpus `dedup_exact` pass when earlier partitions carry
    the smaller ``order_col`` values (asserted in tests)."""
    fresh = new_df.join(store_keys.select(*cols), cols, "left_anti")
    return dedup_exact(fresh, cols, order_col)


# ------------------------------------------------------------------ minhash


# Carter-Wegman 2-universal family over Z_P: h_i(x) = (a_i·x + b_i) mod P.
# P = 2³¹−1 (Mersenne prime); a_i < 2¹³ keeps a_i·x < 2⁶¹ for the 48-bit
# base hash x, so the arithmetic is exact int64 in both engines.
MINHASH_P = 2147483647
MINHASH_A = (3079, 4093, 5039, 6151, 7103, 8191, 3457, 4513,
             5641, 6779, 7919, 3821, 4943, 6089, 7207, 8111)
MINHASH_B = (1299721, 15485863, 32452843, 49979687, 67867967, 86028121,
             104395301, 122949823, 141650939, 160481183, 179424673,
             198491317, 217645177, 236887691, 256203161, 275604541)


def minhash_base_hash(col: Column) -> Column:
    """48-bit integer base hash from the md5 hex prefix — portable:
    DuckDB mirrors it as CAST('0x' || substr(md5(s),1,12) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def minhash_signature(df: DataFrame, id_col: str, shingles: Column, k: int = 16) -> DataFrame:
    """One row per id with k integer min-hash columns ``mh0..mh{k-1}``.

    Shingles are deduplicated (set semantics), base-hashed ONCE (one md5
    per shingle), then each of the k universal-family rehashes is two
    integer ops — vs. k md5s in the naive form (≈4× faster signatures,
    and the shuffled signature is k longs instead of k 32-char strings).
    """
    assert k <= len(MINHASH_A)
    ex = df.select(
        F.col(id_col), F.explode(F.array_distinct(shingles)).alias("__sh")
    ).select(F.col(id_col), minhash_base_hash(F.col("__sh")).alias("__h"))
    aggs = [
        F.min((F.lit(MINHASH_A[i]) * F.col("__h") + F.lit(MINHASH_B[i])) % MINHASH_P).alias(f"mh{i}")
        for i in range(k)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def _band_melt(sig: DataFrame, id_col: str, k: int, bands: int) -> DataFrame:
    """(id, band_idx, band_hash) — 3 narrow columns into the band join."""
    r = k // bands
    band_exprs = [
        F.md5(F.concat_ws("|", *[F.col(f"mh{b * r + j}") for j in range(r)]))
        for b in range(bands)
    ]
    return sig.select(
        id_col,
        F.posexplode(F.array(*band_exprs)).alias("__band_idx", "__band_hash"),
    )


def _est_jaccard_pairs(
    cand: DataFrame, sig: DataFrame, id_col: str, k: int, min_est_jaccard: float
) -> DataFrame:
    """Rejoin full signatures to deduplicated candidate pairs and
    threshold on estimated Jaccard (fraction of equal minhashes)."""
    sa = sig.select(F.col(id_col).alias("id_1"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(k)])
    sb = sig.select(F.col(id_col).alias("id_2"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(k)])
    pairs = cand.join(sa, "id_1").join(sb, "id_2")
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(k)
    )
    est = (matches.cast("double") / F.lit(float(k))).alias("est_jaccard")
    return (
        pairs.select("id_1", "id_2", est)
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str, k: int = 16, bands: int = 8,
    min_est_jaccard: float = 0.5, materialize: bool = True,
) -> DataFrame:
    """LSH banding over the signature: docs sharing any band-hash become
    candidates; the estimated Jaccard (fraction of equal minhashes) is
    computed from the full signatures and thresholded.

    Returns (id_1, id_2, est_jaccard), id_1 < id_2, deterministic.

    The signature frame is persisted (MEMORY_AND_DISK) if the caller
    hasn't already cached it: it feeds the band melt AND both sides of
    the post-dedup signature rejoin, and without the persist Spark
    re-derives the full shingle+md5 pipeline once per reference.
    Signatures are k longs + id per doc — the natural thing to keep
    resident (or to stage to parquet between the signature and banding
    phases of a production pipeline).  With ``materialize`` (default)
    the pair-bounded result is localCheckpoint'ed and the owned cache
    released before return (the passages.py ownership pattern — a
    long-lived session must not accumulate cached blocks per call, the
    r5 bench regression); ``materialize=False`` keeps the plan lazy for
    composition/plan inspection, leaving the signature cache to the
    caller's session hygiene.
    """
    assert k % bands == 0
    owned = sig.storageLevel == StorageLevel.NONE
    if owned:
        sig = sig.persist()
    # Melt ONLY (id, band_idx, band_hash) into the band self-join — the
    # band shuffle rows are 3 columns wide, not 3+k.  Full signatures
    # rejoin AFTER candidate-pair dedup, so the k minhash columns cross
    # the wire once per doc (signature join) instead of bands× per doc
    # (melt) plus 2k× per candidate (pair dedup).
    melted = _band_melt(sig, id_col, k, bands)
    a = melted.alias("a")
    b = melted.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__band_idx") == F.col("b.__band_idx"))
            & (F.col("a.__band_hash") == F.col("b.__band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_1"),
            F.col(f"b.{id_col}").alias("id_2"),
        )
        .dropDuplicates(["id_1", "id_2"])
    )
    out = _est_jaccard_pairs(cand, sig, id_col, k, min_est_jaccard)
    if materialize:
        out = out.localCheckpoint()
        if owned:
            sig.unpersist()
    return out


def lsh_incremental_pairs(
    corpus_sig: DataFrame,
    new_sig: DataFrame,
    id_col: str,
    k: int = 16,
    bands: int = 8,
    min_est_jaccard: float = 0.5,
    materialize: bool = True,
) -> DataFrame:
    """Incremental near-dup detection: candidate pairs touching the NEW
    batch only — (new x corpus) plus (new x new) — never re-pairing
    corpus x corpus.

    The daily-ingest shape of every production dedup pipeline: the
    corpus signature store persists between runs (k longs + id per
    document — `minhash_signature` output staged to parquet), each
    ingest computes signatures for its batch alone and band-joins
    against the store.  Per-ingest cost is proportional to the BATCH,
    not the corpus: the corpus side of the band join is a narrow
    3-column melt that never self-joins, and at 100 TB the band-hash
    join is an equi-join Spark shuffles (or bucket-joins, if the store
    is written bucketed by band hash) as usual.

    Ids must be disjoint between the two frames (enforced by the
    caller's id allocation).  Pair ids are normalized (id_1 < id_2) so
    output composes with `connected_components` and the batch-mode
    `lsh_candidate_pairs` results: running this incrementally over a
    partition of the corpus and unioning yields exactly the full-run
    pair set (asserted in tests).

    Cache ownership follows :func:`lsh_candidate_pairs`: the batch and
    union signature frames are persisted for the melt+rejoin reuse and
    (with ``materialize``, the default) released once the pair-bounded
    result is localCheckpoint'ed.
    """
    assert k % bands == 0
    # ownership guard (as lsh_candidate_pairs): only persist/unpersist a
    # frame whose storage level was NONE on entry — a caller-cached
    # new_sig must not be silently evicted, and persist() on an
    # already-persisted frame with a different level raises
    new_owned = new_sig.storageLevel == StorageLevel.NONE
    if new_owned:
        new_sig = new_sig.persist()
    union_sig = corpus_sig.unionByName(new_sig).persist()
    melt_new = _band_melt(new_sig, id_col, k, bands)
    melt_all = _band_melt(union_sig, id_col, k, bands)
    n = melt_new.alias("n")
    o = melt_all.alias("o")
    # new side vs (corpus + new): catches new-corpus AND new-new pairs;
    # the a<b normalization dedups the new-new pairs seen from both ends
    cand = (
        n.join(
            o,
            (F.col("n.__band_idx") == F.col("o.__band_idx"))
            & (F.col("n.__band_hash") == F.col("o.__band_hash"))
            & (F.col(f"n.{id_col}") != F.col(f"o.{id_col}")),
        )
        .select(
            F.least(F.col(f"n.{id_col}"), F.col(f"o.{id_col}")).alias("id_1"),
            F.greatest(F.col(f"n.{id_col}"), F.col(f"o.{id_col}")).alias("id_2"),
        )
        .dropDuplicates(["id_1", "id_2"])
    )
    out = _est_jaccard_pairs(cand, union_sig, id_col, k, min_est_jaccard)
    if materialize:
        out = out.localCheckpoint()
        union_sig.unpersist()
        if new_owned:
            new_sig.unpersist()
    return out


# ------------------------------------------------------------------ simhash


def simhash_bits(toks: Column, bits: int = 32) -> Column:
    """SimHash as a ``bits``-char '0'/'1' string.

    Bit j's weight for token t is +1 if hex digit j of md5(t) is >= '8'
    (the nibble's high bit), else −1 — engine-portable, no integer hash
    needed.  The signature bit is 1 iff the summed weight is positive.
    Uses one md5 per token and pure array expressions.
    """
    assert bits <= 32
    hexhi = ("8", "9", "a", "b", "c", "d", "e", "f")
    md5s = F.transform(toks, lambda t: F.md5(t))
    # ONE fold over the token md5s with an array<int> accumulator (the
    # per-bit weight vector) instead of `bits` separate folds — each
    # token's md5 is computed once and updates all 32 weights in a
    # single pass (the naive per-bit form recomputes the transform 32×).
    weights = F.aggregate(
        md5s,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(1), F.lit(bits)),
            lambda a, j: a + F.when(F.substring(h, j, F.lit(1)).isin(*hexhi), 1).otherwise(-1),
        ),
    )
    return F.array_join(
        F.transform(weights, lambda w: F.when(w > 0, F.lit("1")).otherwise(F.lit("0"))),
        "",
    )


# ------------------------------------------------------- n-gram jaccard


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, shingles: Column,
    min_jaccard: float = 0.6, block_col: str | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs that share at
    least one shingle (and optionally a blocking key).

    ``max_shingle_df`` drops shingles occurring in more than N docs
    before the self-join — the stopword-shingle cap that keeps the join
    linear-ish at scale.
    """
    base_cols = [F.col(id_col)] + ([F.col(block_col)] if block_col else [])
    distinct_sh = F.array_distinct(shingles)
    ex = df.select(*base_cols, F.explode(distinct_sh).alias("__sh"))
    # Per-shingle document frequency via a window on __sh: ONE shuffle
    # that the self-join below (also keyed on __sh) reuses — no separate
    # aggregate+join pass, no broadcast of the (huge at scale) shingle
    # vocabulary.
    ex = ex.withColumn("__df", F.count(F.lit(1)).over(W.partitionBy("__sh")))
    # Set sizes come from a SEPARATE branch of the base table — one
    # size() per document — and broadcast-join onto the pair table.
    # (Computing the size alongside the explode looks cheaper but
    # Catalyst collapses the projections and re-derives the whole
    # shingle array per exploded row — a measured 35× regression.)
    if max_shingle_df is not None:
        ex = ex.filter(F.col("__df") <= max_shingle_df)
        sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    else:
        sizes = df.select(F.col(id_col), F.size(distinct_sh).alias("__n"))

    # Shingles in exactly ONE document cannot contribute a pair: keep
    # them out of the self-join entirely (they already count in sizes).
    # Most shingles are unique in real corpora, so this prunes the
    # quadratic stage's input massively WITHOUT changing any result.
    ex = ex.filter(F.col("__df") >= 2).drop("__df")

    a, b = ex.alias("a"), ex.alias("b")
    cond = (F.col("a.__sh") == F.col("b.__sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = (
        a.join(b, cond)
        .groupBy(F.col(f"a.{id_col}").alias("id_1"), F.col(f"b.{id_col}").alias("id_2"))
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    sa = F.broadcast(sizes.select(F.col(id_col).alias("id_1"), F.col("__n").alias("__na")))
    sb = F.broadcast(sizes.select(F.col(id_col).alias("id_2"), F.col("__n").alias("__nb")))
    jac = (
        F.col("__i").cast("double")
        / (F.col("__na") + F.col("__nb") - F.col("__i")).cast("double")
    )
    return (
        inter.join(sa, "id_1").join(sb, "id_2")
        .select("id_1", "id_2", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


# ------------------------------------------------- embedding near-dup


def embedding_neardup_pairs(
    df: DataFrame, id_col: str, vec_col: str, block_col: str,
    min_cosine: float = 0.3,
) -> DataFrame:
    """Cosine near-duplicates within a blocking key.  The block is the
    scale lever: label here; an LSH bucket (BucketedRandomProjection)
    or IVF centroid id in production — anything that avoids all-pairs."""
    from mongo2mysql_spark.functions.vector import dot_seq, norm_seq

    # precompute the norm once per vector; the pair expression then only
    # folds the dot product (halves the decimal work per pair)
    with_norm = df.withColumn("__norm", norm_seq(F.col(vec_col)))
    a, b = with_norm.alias("a"), with_norm.alias("b")
    pairs = a.join(
        b,
        (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    cos = F.round(
        dot_seq(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
        / (F.col("a.__norm") * F.col("b.__norm")),
        6,
    )
    return (
        pairs.select(
            F.col(f"a.{id_col}").alias("id_1"),
            F.col(f"b.{id_col}").alias("id_2"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


# ------------------------------------------------- edit-distance pairs


def fuzzy_value_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    block_expr: Column,
    max_dist: int = 4,
) -> DataFrame:
    """Blocked Levenshtein matching over the DISTINCT value domain of a
    string attribute — the record-linkage recipe (blocking + edit
    distance, cf. Christen, "Data Matching", 2012): near-identical
    spellings of the same entity value ("goldenrod lavnder" vs
    "goldenrod lavender") are found by comparing VALUES, not rows.

    Two scale levers, both load-bearing at 100 TB:

    1. **Distinct-domain reduction**: rows collapse to their distinct
       ``str_col`` values first (with min-``id_col`` representative and
       row count), so the pairwise stage costs |domain|², not |rows|² —
       entity attributes have domains orders of magnitude smaller than
       the tables that carry them.
    2. **Blocking**: values only pair within equal ``block_expr`` keys
       (a phonetic key, a token, a length band...), so the self-join is
       an equi-join Catalyst shuffles on the block key — never a
       cartesian product.

    Returns (id_1, id_2, dist, n_rows_1, n_rows_2) with id_1 < id_2
    (representative ids of the two value groups).  Levenshtein is
    JVM-built-in on the Spark side and bit-identical in DuckDB, so the
    integer distance is hard cross-engine signal.
    """
    vals = df.groupBy(str_col).agg(
        F.min(id_col).alias("__rid"), F.count(F.lit(1)).alias("__n")
    ).withColumn("__blk", block_expr)
    a, b = vals.alias("a"), vals.alias("b")
    pairs = a.join(
        b,
        (F.col("a.__blk") == F.col("b.__blk"))
        & (F.col("a.__rid") < F.col("b.__rid")),
    )
    return (
        pairs.select(
            F.col("a.__rid").alias("id_1"),
            F.col("b.__rid").alias("id_2"),
            F.levenshtein(F.col(f"a.{str_col}"), F.col(f"b.{str_col}")).alias("dist"),
            F.col("a.__n").alias("n_rows_1"),
            F.col("b.__n").alias("n_rows_2"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def lsh_plan(spark, n_hashes: int = 16, s_steps: int = 19) -> "DataFrame":
    """LSH banding planner — the (bands × rows) s-curve every MinHash
    deployment consults before indexing: for each factorization
    ``n_hashes = b·r`` and each similarity ``s`` on a 1/(s_steps+1)
    grid, the candidate probability ``P = 1 − (1 − s^r)^b``.  Steep
    curves near the target threshold mean clean separation; the
    planner row set IS the index advisor's decision table (pick the
    (b, r) whose curve crosses 0.5 nearest your threshold).

    Exactness contract: P is computed in 1e-6 INTEGER fixed point by
    repeated multiply-floor-divide folds — float ``pow`` is libm- and
    engine-dependent at the last bit, but the integer chain is
    bit-identical everywhere, so every p6 hashes.  The quantization
    error (≤ ~(r+b) µunits) is irrelevant for planning.

    Returns (bands, rows_per_band, s6, p6, p) — s6/p6 the fixed-point
    integers, p one IEEE division for human use.
    """
    from pyspark.sql import functions as F

    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    if s_steps < 1:
        raise ValueError(f"s_steps must be >= 1, got {s_steps}")
    if 1_000_000 % (s_steps + 1) != 0:
        raise ValueError(
            f"s_steps + 1 must divide 1e6 for an exact grid, got {s_steps}"
        )
    unit = 1_000_000 // (s_steps + 1)
    factors = [
        (b, n_hashes // b) for b in range(1, n_hashes + 1)
        if n_hashes % b == 0
    ]
    grid = (
        spark.createDataFrame(factors, "bands int, rows_per_band int")
        .select(
            "*",
            F.explode(F.sequence(F.lit(1), F.lit(s_steps))).alias("__si"),
        )
        .withColumn("s6", (F.col("__si") * unit).cast("long"))
    )
    L = F.lit(1_000_000).cast("long")

    def fold_pow(base, times):
        """base^times in 1e-6 fixed point: ``times`` multiply-floor
        steps from 1e6 (the floor is exact integer arithmetic — a
        plain double divide could round UP across an integer
        boundary where DuckDB's ``//`` floors)."""
        def step(acc, _):
            prod = acc * base
            return ((prod - prod % L) / L).cast("long")

        return F.aggregate(F.sequence(F.lit(1), times), L, step)

    inner = fold_pow(F.col("s6"), F.col("rows_per_band"))
    outer = fold_pow(L - inner, F.col("bands"))
    return grid.select(
        "bands",
        "rows_per_band",
        "s6",
        (L - outer).alias("p6"),
        ((L - outer).cast("double") / F.lit(1_000_000.0)).alias("p"),
    )


def lsh_plan_sql(n_hashes: int = 16, s_steps: int = 19) -> str:
    """DuckDB restatement; final CTE ``lshplan(bands, rows_per_band,
    s6, p6, p)`` — the identical multiply-floor chain (list_reduce
    seeded with 1e6, ``//`` floor division)."""
    unit = 1_000_000 // (s_steps + 1)
    factors = ", ".join(
        f"({b}, {n_hashes // b})" for b in range(1, n_hashes + 1)
        if n_hashes % b == 0
    )

    def fold(base, times):
        return (
            f"list_reduce(list_prepend(CAST(1000000 AS BIGINT), "
            f"list_transform(generate_series(1, {times}), "
            f"__x -> CAST({base} AS BIGINT))), "
            f"(__a, __b) -> (__a * __b) // 1000000)"
        )

    inner = fold("s6", "rows_per_band")
    outer = fold(f"1000000 - {inner}", "bands")
    return f"""lshgrid AS (
      SELECT bands, rows_per_band, CAST(si * {unit} AS BIGINT) AS s6
      FROM (VALUES {factors}) AS f(bands, rows_per_band)
      CROSS JOIN (SELECT unnest(generate_series(1, {s_steps})) AS si)),
    lshplan AS (
      SELECT bands, rows_per_band, s6,
             CAST(1000000 - {outer} AS BIGINT) AS p6,
             CAST(1000000 - {outer} AS DOUBLE) / 1000000.0 AS p
      FROM lshgrid)"""
