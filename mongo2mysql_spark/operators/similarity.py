"""Similarity search over embedding columns (extension layer):
brute-force cosine top-k as the correctness baseline, IVF (inverted
file) bucketing as the scale path.

Scale story:
- Brute force is O(N·Q): the query side is broadcast (small Q), the big
  side streams — no shuffle of the corpus, but every vector is scored.
  Correct at any N, affordable only for small Q or as an oracle.
- IVF: pick C centroids, assign every vector to its nearest centroid
  (one broadcast pass), then answer queries by scoring ONLY the
  vectors in the query's ``nprobe`` nearest centroid buckets —
  a 1/C-ish fraction of the corpus per query.  Centroid assignment is
  the classic k-means-lite: here centroids are a deterministic sample
  (every ``stride``-th vector) so results are seed-free reproducible;
  production would k-means-iterate the same assignment plan.
- The LSH alternative (BucketedRandomProjectionLSH) trades recall for
  a pure hash-bucket join; the near-dup variant lives in dedup.py.

All cosine math is the sequential double fold (functions/vector.py) so
rankings are deterministic: ties broken by (rounded cosine DESC, id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from mongo2mysql_spark.functions.vector import dot_seq, norm_seq
from mongo2mysql_spark.plans.ddl import quote_ident


def _pair_cosine(dot: Column, norm_a: Column, norm_b: Column, scale: int = 6) -> Column:
    return F.round(dot / (norm_a * norm_b), scale)


def topk_bruteforce(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, k: int = 10,
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k neighbors per query vector (broadcast the queries).

    Norms are precomputed ONCE per vector (a projection) instead of
    inside the pair expression — at N vectors × Q queries that removes
    2·N·Q redundant 64-element decimal folds.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm_seq(F.col(vec_col)).alias("__qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm_seq(F.col(vec_col)).alias("__cnorm"),
    )
    pairs = c.crossJoin(F.broadcast(q))
    if not include_self:
        pairs = pairs.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        _pair_cosine(
            dot_seq(F.col("__qvec"), F.col("__cvec")),
            F.col("__qnorm"),
            F.col("__cnorm"),
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def topk_bruteforce_arrow(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, k: int = 10,
    include_self: bool = False,
) -> DataFrame:
    """Vectorized brute-force top-k: numpy matmul over Arrow batches,
    exact fold re-score on the survivors — bit-identical to
    :func:`topk_bruteforce` (same oracle contract), at matmul cost.

    Two phases:

    1. PRUNE (``mapInPandas`` kernel): queries are collected (small by
       contract) and broadcast as a dense matrix; each corpus Arrow
       batch computes a B×Q cosine block and keeps, per query, every
       candidate whose matmul cosine is within ``1e-5`` of the batch's
       k-th best.  Emission is ≈ batches×Q×k rows (+ boundary ties) —
       never the N×Q score matrix.  The slack covers the only way
       float64 matmul and the sequential fold can disagree: a value
       sitting within float-error of a 1e-6 rounding boundary.
    2. RE-SCORE (expressions): the surviving candidates (vectors ride
       along from the kernel, no corpus rejoin — i.e. no second corpus
       pass) are re-scored with the exact ``dot_seq`` fold and ranked
       with the same (rounded cosine DESC, id) window as the fold path,
       so the final rows are bit-identical to ``topk_bruteforce``.
    """
    import numpy as np

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, q_mat, q_norm))

    id_type = dict(corpus.dtypes)[id_col]
    out_schema = (
        f"query_id {id_type}, neighbor_id {id_type}, __nvec array<double>"
    )

    def prune(batches):
        import pandas as pd

        ids_q, mat_q, norm_q = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            vecs = list(pdf[vec_col])
            mat = np.array(vecs, dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            cos = mat @ mat_q.T / np.outer(norms, norm_q)  # B×Q, unrounded
            parts = []
            for qi, qid in enumerate(ids_q):
                col = cos[:, qi]
                keep = np.ones(len(ids), dtype=bool)
                if not include_self:
                    keep = ids != qid
                cand_idx = np.flatnonzero(keep)
                if len(cand_idx) == 0:
                    continue
                vals = col[cand_idx]
                if len(vals) > k:
                    kth = np.partition(vals, -k)[-k]
                    sel = cand_idx[vals >= kth - 1e-5]
                else:
                    sel = cand_idx
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(sel), qid),
                            "neighbor_id": ids[sel],
                            "__nvec": [np.asarray(vecs[i], dtype=np.float64)
                                       for i in sel],
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    partials = corpus.select(id_col, vec_col).mapInPandas(prune, out_schema)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm_seq(F.col(vec_col)).alias("__qnorm"),
    )
    scored = partials.join(F.broadcast(q), "query_id").select(
        "query_id",
        "neighbor_id",
        _pair_cosine(
            dot_seq(F.col("__qvec"), F.col("__nvec")),
            F.col("__qnorm"),
            norm_seq(F.col("__nvec")),
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_calibrate(
    corpus: DataFrame,
    calibration_queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    centroid_stride: int = 97,
    centroids: DataFrame | None = None,
    target_recall: float = 0.9,
) -> tuple[int, float]:
    """Pick the smallest ``nprobe`` whose recall@k meets
    ``target_recall``, measured on the calibration queries against exact
    brute force.  Returns ``(nprobe, measured_recall)``.

    This is the recall floor the IVF deployment wants: nprobe is a
    cost/recall LEVER, and without calibration a user silently gets
    whatever recall the data's cluster structure allows (weakly
    clustered embeddings need more probes than the habitual 1-2).  Run
    once per corpus/centroid build on a small query sample — brute
    force over the corpus × a handful of queries is one broadcast pass
    — then serve every query at the calibrated nprobe.  At 100 TB,
    calibrate against a corpus SAMPLE (recall estimates need only
    sample truth) and re-calibrate when drift monitoring
    (operators/drift.py) flags the embedding distribution.

    Worst case returns nprobe = n_centroids (exhaustive — recall 1.0 by
    construction), so the target is always reached.

    Search cost: recall@k is monotone in nprobe (a query's probed
    bucket set only grows, and any candidate outranking a true
    neighbor would itself be in the truth set), so the smallest
    qualifying nprobe is found by exponential search + bisection —
    O(log nprobe*) IVF top-k jobs instead of the linear scan's
    O(nprobe*) (each job is a full calibration-sample search).
    """
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_bruteforce(
            corpus, calibration_queries, id_col, vec_col, k=k
        ).collect()
    }
    if centroids is None:
        centroids = corpus.filter(F.col(id_col) % centroid_stride == 0)
    centroids = centroids.persist()
    n_centroids = centroids.count()

    evals: dict[int, float] = {}

    def recall_at(nprobe: int) -> float:
        if nprobe not in evals:
            got = {
                (r["query_id"], r["neighbor_id"])
                for r in topk_ivf(
                    corpus, calibration_queries, id_col, vec_col,
                    k=k, nprobe=nprobe, centroids=centroids,
                ).collect()
            }
            evals[nprobe] = len(got & truth) / max(len(truth), 1)
        return evals[nprobe]

    try:
        lo, hi = 0, 1  # invariant: lo fails (or is 0), seek smallest pass
        while recall_at(hi) < target_recall:
            if hi >= n_centroids:
                return n_centroids, recall_at(hi)
            lo, hi = hi, min(hi * 2, n_centroids)
        while hi - lo > 1:
            mid = (lo + hi) // 2
            if recall_at(mid) >= target_recall:
                hi = mid
            else:
                lo = mid
        return hi, recall_at(hi)
    finally:
        centroids.unpersist()


def assign_centroids(
    corpus: DataFrame, centroids: DataFrame, id_col: str, vec_col: str,
    nprobe: int = 1,
) -> DataFrame:
    """Nearest-centroid assignment (broadcast centroids, one pass).
    Deterministic: ties on rounded cosine break by centroid id.
    ``nprobe`` > 1 keeps the n nearest centroids per vector (one row
    each, ranked by ``_probe``) — used on the query side to widen the
    searched bucket set; corpus vectors are always assigned with
    nprobe=1 (each lives in exactly one inverted list)."""
    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("__centvec"),
        norm_seq(F.col(vec_col)).alias("__centnorm"),
    )
    with_norm = corpus.withColumn("__vnorm", norm_seq(F.col(vec_col)))
    scored = with_norm.crossJoin(F.broadcast(c)).select(
        "*",
        _pair_cosine(
            dot_seq(F.col(vec_col), F.col("__centvec")),
            F.col("__vnorm"),
            F.col("__centnorm"),
        ).alias("__ccos"),
    )
    if nprobe == 1:
        # argmin as an AGGREGATE, not a window: row_number() over
        # partitionBy(id) shuffles all C copies of the corpus on the id
        # key; max_by partial-aggregates map-side, so only one row per
        # (partition, id) reaches the shuffle — ~C× less volume.  The
        # ordering struct (coalesced cosine, −centroid_id) reproduces
        # the window's (cosine DESC NULLS LAST, centroid_id ASC) order
        # exactly: −inf sinks null cosines, and −cid is unique so ties
        # break to the smallest centroid id.  Corpus columns ride in
        # the value struct (constant per id across the C candidates),
        # so no rejoin against the corpus is needed.
        others = [f for f in corpus.columns if f != id_col]
        key = F.struct(
            F.coalesce(F.col("__ccos"), F.lit(float("-inf"))).alias("c"),
            (-F.col("centroid_id")).alias("nc"),
        )
        val = F.struct(
            *[F.col(f).alias(f) for f in others],
            F.col("centroid_id").alias("centroid_id"),
        )
        best = scored.groupBy(id_col).agg(F.max_by(val, key).alias("__best"))
        return best.select(
            id_col,
            *[F.col(f"__best.{f}").alias(f) for f in others],
            F.col("__best.centroid_id").alias("centroid_id"),
        )
    # nprobe > 1 is the QUERY side (bounded frame): the ranked window is
    # fine there and the per-probe rank is part of the contract
    w = W.partitionBy(id_col).orderBy(F.desc("__ccos"), F.col("centroid_id"))
    return (
        scored.withColumn("_probe", F.row_number().over(w))
        .filter(F.col("_probe") <= nprobe)
        .drop("__centvec", "__centnorm", "__vnorm", "__ccos")
    )


def topk_ivf(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
    centroid_stride: int = 97, k: int = 5, nprobe: int = 1,
    centroids: DataFrame | None = None,
    quantized: bool = False, overfetch: int = 4,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k: deterministic centroids (ids ≡ 0 mod stride, or a
    pre-fitted ``centroids`` frame — pass `operators/kmeans.kmeans_fit`
    output renamed to (id_col, vec_col) for the production path); each
    corpus vector lives in exactly one inverted list, each query probes
    its ``nprobe`` nearest centroid buckets (the standard IVF recall
    lever: cost grows ~linearly with nprobe, recall monotonically).
    Recall < 1 by design; the bruteforce operator is the recall oracle.

    ``quantized=True`` adds the IVF-PQ-style serving optimization: probe
    candidates are first ranked by the int8 integer-MAC dot product
    (functions/vector.dot_quantized — 4x smaller reads, no float fold),
    only the top ``k*overfetch`` per query get the exact cosine re-rank.
    The FINAL ordering is the exact cosine either way; quantization only
    decides which candidates reach the re-rank, so at sane overfetch the
    result matches the unquantized path (tested).  Wins at scale, where
    the exact fold over every probed candidate dominates serving cost.

    ``assigned`` (optional) is a precomputed assignment frame carrying
    (id_col, vec_col, centroid_id) — pass it when the assignment is
    INDEX STATE (e.g. the cell column of an IVF-partitioned store,
    sources/ivfstore.py) so serving skips the per-search assignment
    pass; it must have been produced against the SAME ``centroids``."""
    if centroids is None:
        centroids = corpus.filter(F.col(id_col) % centroid_stride == 0)
    if assigned is None:
        assigned = assign_centroids(corpus, centroids, id_col, vec_col)
    q_probes = assign_centroids(
        queries, centroids, id_col, vec_col, nprobe=nprobe
    )
    if nprobe == 1:
        q_probes = q_probes.withColumn("_probe", F.lit(1))
    qcols = [
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm_seq(F.col(vec_col)).alias("__qnorm"),
        F.col("centroid_id").alias("__qcentroid"),
    ]
    if quantized:
        from mongo2mysql_spark.functions.vector import (
            dot_quantized,
            quantize_embedding,
        )

        qcols.append(quantize_embedding(F.col(vec_col)).alias("__qq"))
        assigned = assigned.withColumn("__nq", quantize_embedding(F.col(vec_col)))
    q_probes = q_probes.select(*qcols)
    # a corpus vector appears in exactly one bucket and a query's probe
    # buckets are distinct, so no candidate pair can duplicate
    pairs = assigned.withColumn("__nnorm", norm_seq(F.col(vec_col))).join(
        F.broadcast(q_probes),
        (F.col("centroid_id") == F.col("__qcentroid"))
        & (F.col(id_col) != F.col("query_id")),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    if quantized:
        # cheap pass: integer-MAC approximate cosine prunes the probed
        # candidates to k*overfetch per query before any float fold runs
        pre = pairs.select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (
                dot_quantized(F.col("__qq"), F.col("__nq"))
                / (F.col("__qnorm") * F.col("__nnorm"))
            ).alias("cosine"),
            "__qvec",
            "__qnorm",
            "__nnorm",
            F.col(vec_col).alias("__nvec"),
        )
        kept = (
            pre.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k * overfetch)
            .drop("rank", "cosine")
        )
        scored = kept.select(
            "query_id",
            "neighbor_id",
            _pair_cosine(
                dot_seq(F.col("__qvec"), F.col("__nvec")),
                F.col("__qnorm"),
                F.col("__nnorm"),
            ).alias("cosine"),
        )
    else:
        scored = pairs.select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            _pair_cosine(
                dot_seq(F.col("__qvec"), F.col(vec_col)),
                F.col("__qnorm"),
                F.col("__nnorm"),
            ).alias("cosine"),
        )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def sign_pack_sql(
    vec: str, dim: int, accessor: str = "element_at({v}, {i})"
) -> list[str]:
    """Binary (sign) quantization: ``ceil(dim/32)`` words of 32 sign
    bits each as EXPLICIT integer SQL text (``element > 0 → bit``).
    32 bits per word (not 64) so no word ever sets bit 63 of a signed
    BIGINT — every packed value stays non-negative in both engines.
    Works at any embedding width (384/768/1024-dim corpora pack into
    12/24/32 words).  Integer-exact end to end — the one quantizer
    whose ENTIRE search path is oracle-hashable (no float distance
    anywhere).  ``accessor`` renders 1-based element access (default
    Spark ``element_at``; the DuckDB mirror passes ``"{v}[{i}]"`` —
    DuckDB's element_at is MAP-only)."""
    if dim < 1:
        raise ValueError(f"sign_pack_sql needs dim >= 1, got {dim}")

    def word(lo: int, hi: int) -> str:
        terms = [
            f"(CASE WHEN CAST({accessor.format(v=vec, i=i + 1)} AS DOUBLE) > 0 "
            f"THEN CAST({1 << (i - lo)} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for i in range(lo, hi)
        ]
        return " + ".join(terms)

    return [word(lo, min(lo + 32, dim)) for lo in range(0, dim, 32)]


def sign_pack(
    df: DataFrame, id_col: str, vec_col: str, dim: int
) -> DataFrame:
    """(id, __w0..__wN) — raw sign bits packed to words; ONE map-only
    projection.  This frame IS the stored BQ index in a deployment
    (the 32× read cut comes from scanning these words instead of the
    float vectors) — build it once at ingest, pass it to
    :func:`topk_hamming` as ``corpus_packed``."""
    words = sign_pack_sql(vec_col, dim)
    return df.selectExpr(
        quote_ident(id_col), *[f"{w} AS __w{i}" for i, w in enumerate(words)]
    )


def simhash_pack(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_bits: int,
    seed: int = 0,
) -> DataFrame:
    """(id, __w0..__wN) — FWHT-SimHash signatures packed to words (see
    :func:`fwht_stages`); the stored wide-BQ index, built once at
    ingest and served by :func:`topk_simhash` via ``corpus_packed``."""
    stages = fwht_stages(vec_col, dim, n_bits, seed=seed)
    words = simhash_pack_sql([n for n, _ in stages[-1]])
    cur = df.select(F.col(id_col), F.col(vec_col))
    # selectExpr, not per-column F.expr().alias(): a 256-bit pack is
    # ~1,800 stage expressions, and building them as Column objects
    # costs two py4j round-trips EACH (~3 s of driver chatter per plan
    # construction, paid on every query-side pack).  One selectExpr per
    # stage ships the same expression texts as a single string batch —
    # the parsed plan (Project over Alias) is identical.
    id_sql = quote_ident(id_col)
    for stage in stages:
        cur = cur.selectExpr(id_sql, *[f"{txt} AS {n}" for n, txt in stage])
    return cur.selectExpr(
        id_sql, *[f"{w} AS __w{i}" for i, w in enumerate(words)]
    )


def _hamming_topk_from_packed(
    corpus_packed: DataFrame,
    queries_packed: DataFrame,
    id_col: str,
    n_words: int,
    k: int,
) -> DataFrame:
    """Shared Hamming rank over packed words: broadcast the packed
    queries, XOR+popcount per word, salted per-query top-k."""
    from mongo2mysql_spark.operators.skew import salted_topk_per_group

    qp = queries_packed.select(
        F.col(id_col).alias("query_id"),
        *[F.col(f"__w{i}").alias(f"__q{i}") for i in range(n_words)],
    )
    ham = F.bit_count(F.expr("__w0 ^ __q0"))
    for i in range(1, n_words):
        ham = ham + F.bit_count(F.expr(f"__w{i} ^ __q{i}"))
    scored = (
        corpus_packed.crossJoin(F.broadcast(qp))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            ham.cast("int").alias("ham"),
        )
    )
    return salted_topk_per_group(
        scored,
        ["query_id"],
        [F.col("ham").asc(), F.col("neighbor_id").asc()],
        k,
    )


def topk_hamming(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    corpus_packed: DataFrame | None = None,
) -> DataFrame:
    """Hamming-space ANN over sign-quantized vectors (Charikar, STOC
    2002 SimHash family; the 'binary quantization' serving mode of
    production vector stores): pack each vector's sign bits into
    ``ceil(dim/32)`` integer words (one map-only projection — a 32×
    read cut vs float, and distance becomes one XOR+popcount per
    word), broadcast the packed queries, rank per query by
    (hamming, id).

    The per-query top-k rides ``salted_topk_per_group`` (two-phase:
    local top-k per (query, salt) bucket, then re-rank the bucket
    survivors) — a plain per-query window would funnel all N corpus
    rows of each query through ONE reducer.  The (ham, neighbor_id)
    order is total, so the salted plan returns exactly the plain
    window's rows.

    Every value in the result is integer arithmetic — ranks, distances
    and ids all hash bit-identically cross-engine with NO decimal/float
    contract needed.  ``corpus_packed`` (optional, a :func:`sign_pack`
    frame) is the STORED index path: a deployment packs once at ingest
    and serving scans the words, never the floats.  Returns
    (query_id, neighbor_id, ham, rank)."""
    n_words = (dim + 31) // 32
    if corpus_packed is None:
        corpus_packed = sign_pack(corpus, id_col, vec_col, dim)
    return _hamming_topk_from_packed(
        corpus_packed, sign_pack(queries, id_col, vec_col, dim),
        id_col, n_words, k,
    )


_SIMHASH_A = 1103515245
_SIMHASH_M = 2147483647  # 2^31 − 1: products stay < 2^62 in BOTH engines


def _simhash_sign(seed: int, j: int, i: int, dim: int) -> int:
    """±1 hyperplane component from pure 64-bit-safe integer arithmetic
    (multiplicative-hash parity) — deliberately NOT xxhash (Spark's
    xxhash64 has no DuckDB equivalent): the same expression evaluates
    identically in Python, Spark SQL and DuckDB, so SimHash signatures
    are oracle-restatable."""
    x = seed * 131071 + j * dim + i + 1
    return 1 if (_SIMHASH_A * x) % _SIMHASH_M % 2 == 0 else -1


def simhash_pack_sql(
    proj_cols: list[str],
) -> list[str]:
    """Pack sign bits of (already staged) projection COLUMNS into
    ``ceil(n_bits/32)`` integer words — same word layout as
    :func:`sign_pack_sql` (32 bits per word, never bit 63).

    Projections must be staged as real columns first (``proj_cols`` are
    column NAMES), and each is referenced TWICE in its sign test:
    ``(p + p) >= 0`` is IEEE-identical to ``p >= 0`` for every double
    (doubling preserves sign for ±0/±inf and NaN stays false), but a
    single-reference alias gets INLINED by CollapseProject — which
    would fold all n_bits·dim projection terms into a handful of word
    columns, un-stage the projection, and push the fused stage past
    janino's 64 KB method limit into interpreted fallback (measured
    ~12× slower).  The double reference keeps the staged >maxFields
    projection a real method-split stage, exactly pq_encode's
    discipline.  DuckDB evaluates the same text identically."""
    words = []
    for lo in range(0, len(proj_cols), 32):
        chunk = proj_cols[lo : lo + 32]
        terms = [
            f"(CASE WHEN ({c} + {c}) >= 0 THEN CAST({1 << b} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for b, c in enumerate(chunk)
        ]
        words.append(" + ".join(terms))
    return words


def fwht_stages(
    vec: str,
    dim: int,
    n_bits: int,
    seed: int = 0,
    accessor: str = "element_at({v}, {i})",
) -> list[list[tuple[str, str]]]:
    """Structured random projections via the fast Walsh–Hadamard
    transform: block ``t``'s ``dim`` projection values are ``H·D_t·x``
    where ``D_t`` is a deterministic ±1 diagonal (:func:`_simhash_sign`
    parities) and ``H`` the Hadamard matrix computed by ``log2(dim)``
    butterfly stages — the Fast-JL / structured-spinners construction
    (Ailon & Chazelle, STOC 2006; Andoni et al., NIPS 2015), standard
    practice for wide-bit SimHash because it needs O(d·log d) adds per
    block instead of O(d·bits) explicit terms.

    Each stage is a list of ``(column_name, sql_text)`` where texts
    reference only the PREVIOUS stage's names (stage 0 reads the vector
    through ``accessor``) — so both engines evaluate the identical
    op-for-op float chain, and every intermediate is referenced exactly
    twice downstream (the butterfly pairing), which keeps Catalyst from
    collapsing the staged projections back into one giant tree (the
    explicit-term form measured 20 MB task binaries; this is ~10×
    smaller and codegen-friendly)."""
    if dim < 2 or dim & (dim - 1):
        raise ValueError(f"fwht_stages needs a power-of-two dim, got {dim}")
    if n_bits % dim:
        raise ValueError(f"n_bits {n_bits} must be a multiple of dim {dim}")
    blocks = n_bits // dim
    stages: list[list[tuple[str, str]]] = []
    s0 = []
    for t in range(blocks):
        for i in range(dim):
            e = f"CAST({accessor.format(v=vec, i=i + 1)} AS DOUBLE)"
            if _simhash_sign(seed, t, i, dim) < 0:
                e = f"(- {e})"
            s0.append((f"__h{t}_0_{i}", e))
    stages.append(s0)
    n_levels = dim.bit_length() - 1
    for s in range(1, n_levels + 1):
        h = 1 << (s - 1)
        st = []
        for t in range(blocks):
            for i in range(dim):
                j = i ^ h
                a = f"__h{t}_{s - 1}_{i}"
                b = f"__h{t}_{s - 1}_{j}"
                st.append(
                    (
                        f"__h{t}_{s}_{i}",
                        f"({a} + {b})" if (i & h) == 0 else f"({b} - {a})",
                    )
                )
        stages.append(st)
    return stages


def topk_simhash(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_bits: int = 128,
    k: int = 10,
    seed: int = 0,
    corpus_packed: DataFrame | None = None,
) -> DataFrame:
    """WIDE binary quantization: Hamming ANN over ``n_bits``-bit SimHash
    signatures with ``n_bits`` decoupled from the vector dimension —
    the production BQ mode for real corpora (raw sign-packing caps the
    signature at dim bits; random hyperplanes buy arbitrary Hamming
    resolution at one extra map-only projection).  E[hamming] =
    n_bits·θ/π, so doubling n_bits halves the relative rank noise.

    Plan shape: the projections are the FWHT butterfly pipeline
    (:func:`fwht_stages` — O(d·log d) adds per block, structured-
    spinners hyperplanes), one staged select per butterfly level, words
    packed on top, broadcast packed queries, salted per-query top-k.
    Like :func:`topk_hamming` the whole search path is integer-valued —
    signatures, distances, ranks and ids all hash cross-engine (the
    sign diagonal is engine-portable integer parities, not xxhash; the
    butterfly float chain is op-for-op identical).  ``corpus_packed``
    (optional, a :func:`simhash_pack` frame with the SAME
    dim/n_bits/seed) is the STORED index path — pack once at ingest,
    serve the words.  Returns (query_id, neighbor_id, ham, rank)."""
    n_words = (n_bits + 31) // 32
    if corpus_packed is None:
        corpus_packed = simhash_pack(corpus, id_col, vec_col, dim, n_bits, seed)
    return _hamming_topk_from_packed(
        corpus_packed,
        simhash_pack(queries, id_col, vec_col, dim, n_bits, seed),
        id_col,
        n_words,
        k,
    )


def topk_truncated_rescore(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    prefix_dim: int,
    k: int = 10,
    overfetch: int = 10,
) -> DataFrame:
    """Dimension-truncation ANN funnel (the Matryoshka-representation
    serving mode: prefix dimensions carry a coarse embedding, so the
    prune pass reads prefix_dim/dim of the float bytes): rank by exact
    cosine over the FIRST ``prefix_dim`` components, keep k·overfetch
    candidates per query (salted two-phase top-k — the prune scores
    corpus×Q rows), then exact full-dimension cosine re-ranks only the
    finalists.  With MRL-trained embeddings the prefix is a trained
    sub-embedding; on generic embeddings it is simply a lossy prune —
    either way the funnel shape and the read cut are identical.
    Returns (query_id, neighbor_id, prefix_cos, cosine, rank) — final
    order is the full-dimension cosine."""
    from mongo2mysql_spark.functions.vector import cosine_seq
    from mongo2mysql_spark.operators.skew import salted_topk_per_group

    pre = F.slice(F.col(vec_col), 1, prefix_dim)
    corpus_p = corpus.select(
        F.col(id_col), pre.alias("__pv")
    )
    queries_p = queries.select(
        F.col(id_col).alias("query_id"), pre.alias("__pq")
    )
    scored = (
        corpus_p.crossJoin(F.broadcast(queries_p))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine_seq(F.col("__pq"), F.col("__pv")).alias("prefix_cos"),
        )
    )
    cand = salted_topk_per_group(
        scored,
        ["query_id"],
        [F.col("prefix_cos").desc(), F.col("neighbor_id").asc()],
        k * overfetch,
    ).drop("rank")
    rescored = (
        cand.join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            "prefix_cos",
            cosine_seq(F.col("__qv"), F.col("__nv")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return rescored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= k)


def topk_hamming_rescore(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    overfetch: int = 10,
    corpus_packed: DataFrame | None = None,
) -> DataFrame:
    """The practical BQ serving funnel: Hamming-prune to ``k·overfetch``
    candidates over the packed bits (integer scan — the cheap pass),
    then exact-cosine re-rank only the finalists (float folds touch
    k·overfetch vectors per query, never the corpus).  Same
    prune-then-rescore shape as ``topk_ivf(quantized=True)`` and the
    PQ rerank; overfetch is the recall lever.  Returns (query_id,
    neighbor_id, ham, cosine, rank) — final order is the exact
    cosine."""
    from mongo2mysql_spark.functions.vector import cosine_seq

    cand = topk_hamming(
        corpus, queries, id_col, vec_col, dim, k=k * overfetch,
        corpus_packed=corpus_packed
    ).select("query_id", "neighbor_id", "ham")
    rescored = (
        cand.join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("__nv"),
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("__qv"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            "ham",
            cosine_seq(F.col("__qv"), F.col("__nv")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return rescored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= k)
