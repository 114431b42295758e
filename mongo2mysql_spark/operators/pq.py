"""Product-quantization ANN (extension layer): PQ encode + ADC search.

Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011): split each d-dim vector into ``m`` subspaces,
quantize every subvector to its nearest subspace centroid, and search
by Asymmetric Distance Computation — the query builds one (m × k)
table of exact query↔centroid distances, and each corpus vector's
approximate distance is a sum of ``m`` table lookups indexed by its
stored codes.

Why this is the 100 TB lever: after encoding, the scan side of the
search touches ``m`` small ints per vector instead of ``d`` floats —
a 4·d/m byte cut (64-dim float32 → 8 codes = 32×), so the candidate
scan is bandwidth-bound on codes that fit in memory where the raw
vectors never would.  Exact re-scoring on the original floats touches
only the top candidates.

Spark shape:
- the codebook is deterministic (stride-sampled corpus vectors — the
  same device ``operators/similarity.topk_ivf`` uses so the oracle can
  restate it relationally; k-means codebooks via ``operators/kmeans``
  are the real-training path and swap in without changing the plan);
- ``collect_codebook`` is a BOUNDED collect (≤ ``k_max`` vectors);
- encode is a map-only narrow projection: the codebook enters the plan
  as literal arithmetic (whole-stage-codegen'd — see
  ``_dists_to_cents``), so there is NO join and NO shuffle on the
  corpus side — 1000 executors encode 100 TB embarrassingly parallel;
- ADC joins the corpus codes against a BROADCAST per-query distance
  table; the only shuffle is the per-query top-k.

Determinism contract: subspace distances are sequential double folds
(bit-portable, functions/vector.py); the ADC sum accumulates the m
per-subspace distances in DECIMAL (order-free — the oracle's relational
SUM has no defined order), rounds to 6 decimals, and ranks with id
tie-breaks.  Argmin code assignment tie-breaks on the lowest centroid
id on both engines (array_position takes the FIRST minimum; the SQL
mirror orders by (d2, cid)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from mongo2mysql_spark.operators.skew import salted_topk_per_group
from mongo2mysql_spark.session import local_frame

_DEC = "decimal(30,12)"


def _l2sq_seq(a: Column, b: Column) -> Column:
    """Sequential double-fold squared L2 distance (same IEEE op order
    as the DuckDB mirror ``sql_l2sq``)."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def sql_l2sq(a: str, b: str) -> str:
    """DuckDB mirror of :func:`_l2sq_seq` — identical fold order and
    0.0 seed."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
        f"z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * "
        f"(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, v) -> acc + v)"
    )


def _dlit(x: float) -> str:
    """Exact DOUBLE literal text: ``repr`` is the shortest round-trip
    decimal form, and string→double casts parse it to the identical
    IEEE value on both engines (a bare ``0.1`` literal would be DECIMAL
    in Spark SQL — never write those)."""
    return f"CAST('{x!r}' AS DOUBLE)"


def _norm_sql(vec: str, dim: int) -> str:
    """Vector L2 norm as EXPLICIT SQL text (element_at + literal
    arithmetic — codegen'd, unlike interpreted HOF lambdas),
    bit-identical to the seeded fold ``sql_norm`` mirrors (squares are
    never -0.0, so dropping the 0.0 seed changes nothing; ``+`` chains
    parse left-associative, the fold order).  Zero norm falls back to
    1.0 so zero vectors pass through normalization unscaled — same
    guard as the oracle's ``nemb``.

    Why SQL text and not Column arithmetic: building thousand-term
    trees one ``py4j`` call at a time costs ~10 s of driver wall per
    plan; ONE ``F.expr`` parse is milliseconds."""
    s = " + ".join(
        f"(CAST(element_at({vec}, {i}) AS DOUBLE) * "
        f"CAST(element_at({vec}, {i}) AS DOUBLE))"
        for i in range(1, dim + 1)
    )
    return (
        f"CASE WHEN SQRT({s}) > 0 THEN SQRT({s}) "
        f"ELSE CAST(1.0 AS DOUBLE) END"
    )


def collect_codebook(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    m_sub: int,
    stride: int,
    k_max: int,
    normalize: bool = False,
) -> list[list[list[float]]]:
    """``cb[j][c]`` = subvector ``j`` of the corpus vector with id
    ``c·stride`` — a deterministic codebook both engines can restate.

    With ``normalize=True`` the centroids are unit-normalized in driver
    Python (floats ARE IEEE doubles: the left-to-right sum + sqrt +
    per-element division is bit-identical to the engine expressions) —
    the cosine-PQ codebook.

    Bounded driver work: at most ``k_max`` full vectors come back
    (the codebook is index metadata, never corpus-sized)."""
    import math

    rows = (
        vectors.filter(
            (F.col(id_col) % stride == 0) & (F.col(id_col) < stride * k_max)
        )
        .select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .orderBy("__id")
        .collect()
    )
    if not rows:
        raise ValueError("empty PQ codebook: no vector id is a stride multiple")
    # centroid c of the code space is id c·stride on BOTH engines (the
    # DuckDB oracle derives cid as id // stride); a gap in the stride
    # multiples would silently shift every positional centroid index
    # after it and desynchronize all ADC distances cross-engine
    got = [r["__id"] for r in rows]
    want = [c * stride for c in range(len(rows))]
    if got != want:
        raise ValueError(
            f"stride codebook ids not contiguous multiples: got {got[:8]}..., "
            f"expected 0,{stride},..,{(len(rows) - 1) * stride}"
        )
    dim = len(rows[0]["__v"])
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible into {m_sub} subspaces")
    dsub = dim // m_sub
    vecs = []
    for r in rows:
        v = [float(x) for x in r["__v"]]
        if normalize:
            s = 0.0
            for x in v:
                s = s + x * x
            n = math.sqrt(s)
            if n > 0:
                v = [x / n for x in v]
        vecs.append(v)
    return [
        [[v[j * dsub + i] for i in range(dsub)] for v in vecs]
        for j in range(m_sub)
    ]


def train_codebook(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    m_sub: int,
    stride: int,
    k_max: int,
    sample_n: int = 2048,
    iters: int = 10,
    normalize: bool = False,
) -> list[list[list[float]]]:
    """Lloyd-refined PQ codebook (Jégou et al. TPAMI 2011 §III: the
    per-subspace k-means that real PQ indexes train) — same shape as
    :func:`collect_codebook`, strictly better cells.

    Scale shape: training is driver-side NumPy over a BOUNDED
    deterministic sample (``id < sample_n`` here; at 100 TB swap the
    predicate for a hash-sample of the same size) — codebooks are
    index metadata learned from a sample, never a corpus pass; the
    corpus only ever sees the one map-only encode.  Deterministic:
    stride-codebook init, argmin ties to the lowest centroid id, empty
    clusters keep their previous centroid.

    NOT oracle-restatable (float cluster means are order-sensitive
    cross-engine) — hashed slots serve :func:`collect_codebook`; this
    is the recall path (``bench.pq_recall`` reports both)."""
    import numpy as np

    cb0 = collect_codebook(
        vectors, id_col, vec_col, m_sub, stride, k_max, normalize=normalize
    )
    dsub = len(cb0[0][0])
    rows = (
        vectors.filter(F.col(id_col) < sample_n)
        .select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .orderBy("__id")
        .collect()
    )
    x = np.array([[float(v) for v in r["__v"]] for r in rows], dtype=np.float64)
    if normalize:
        nrm = np.sqrt((x * x).sum(axis=1))
        nrm[nrm == 0] = 1.0
        x = x / nrm[:, None]
    out = []
    for j in range(m_sub):
        xj = x[:, j * dsub : (j + 1) * dsub]
        cents = np.array(cb0[j], dtype=np.float64)
        for _ in range(iters):
            d2 = ((xj[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # first minimum = lowest id
            for c in range(len(cents)):
                members = xj[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        out.append([[float(v) for v in cent] for cent in cents])
    return out


def train_codebook_distributed(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    m_sub: int,
    stride: int,
    k_max: int,
    iters: int = 10,
    normalize: bool = False,
) -> list[list[list[float]]]:
    """Distributed Lloyd per subspace — :func:`train_codebook` without
    the driver-memory bound (its ``sample_n`` collect caps training
    data at what one process holds; this trains on the WHOLE input
    frame, so a 100 TB deployment can hand it any hash-sample that
    fits the cluster, not the driver).

    Shape per iteration (the only part that touches the corpus): one
    Arrow ``mapInPandas`` stage assigns every subvector to its nearest
    centroid (vectorized NumPy against the broadcast codebook) and
    emits per-(subspace, centroid, position) partial sums — at most
    ``m·k·dsub`` rows per task regardless of input size — which one
    ``groupBy`` folds with map-side partials into ``m·k·dsub`` total
    rows; the driver update divides that many doubles.  The projected
    training frame is persisted across iterations (``iters`` passes
    over cached columns, one source scan).

    Determinism matches :func:`train_codebook` per step — stride init,
    NumPy float64 distances, ``argmin`` ties to the lowest centroid id,
    empty clusters keep their previous centroid — but cluster sums fold
    in partition order, so centroids can differ from the driver trainer
    by float ulps on multi-partition input (bit-equal on a single
    sorted partition, pinned by test).  Like ``train_codebook`` it is
    NOT oracle-restatable; it feeds the recall path
    (``bench.pq_recall``)."""
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    cb0 = collect_codebook(
        vectors, id_col, vec_col, m_sub, stride, k_max, normalize=normalize
    )
    k = len(cb0[0])
    dsub = len(cb0[0][0])
    spark = vectors.sparkSession
    # fresh projection => always ours to cache (never a caller frame)
    data = vectors.select(F.col(vec_col).alias("__v")).persist()
    cents = np.array(cb0, dtype=np.float64)  # (m, k, dsub)
    schema = "j int, cid int, pos int, s double, n bigint"
    try:
        for _ in range(iters):
            bc = spark.sparkContext.broadcast(cents)

            def partials(batches):
                import numpy as _np
                import pandas as _pd

                C = bc.value
                m, kk, ds = C.shape
                for pdf in batches:
                    if not len(pdf):
                        continue
                    X = _np.stack(pdf["__v"].to_numpy()).astype(_np.float64)
                    if normalize:
                        nrm = _np.sqrt((X * X).sum(axis=1))
                        nrm[nrm == 0] = 1.0
                        X = X / nrm[:, None]
                    cols: dict[str, list] = {
                        "j": [], "cid": [], "pos": [], "s": [], "n": []
                    }
                    for j in range(m):
                        Xj = X[:, j * ds : (j + 1) * ds]
                        d2 = ((Xj[:, None, :] - C[j][None, :, :]) ** 2).sum(
                            axis=2
                        )
                        assign = d2.argmin(axis=1)  # first min = lowest cid
                        for c in range(kk):
                            members = Xj[assign == c]
                            if not len(members):
                                continue
                            s = members.sum(axis=0)
                            for p in range(ds):
                                cols["j"].append(j)
                                cols["cid"].append(c)
                                cols["pos"].append(p)
                                cols["s"].append(float(s[p]))
                                cols["n"].append(len(members))
                    yield _pd.DataFrame(cols)

            agg = (
                data.mapInPandas(partials, schema)
                .groupBy("j", "cid", "pos")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .collect()
            )
            sums = np.zeros_like(cents)
            counts = np.zeros((m_sub, k), dtype=np.int64)
            for r in agg:
                sums[r["j"], r["cid"], r["pos"]] = r["s"]
                counts[r["j"], r["cid"]] = r["n"]
            nxt = cents.copy()
            nonempty = counts > 0
            for j in range(m_sub):
                for c in range(k):
                    if nonempty[j, c]:
                        nxt[j, c] = sums[j, c] / counts[j, c]
            cents = nxt
            bc.unpersist()
    finally:
        data.unpersist()
    return [
        [[float(v) for v in cent] for cent in cents[j]] for j in range(m_sub)
    ]


def train_codebook_exact(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    m_sub: int,
    stride: int,
    k_max: int,
    iters: int = 2,
    normalize: bool = True,
    scale: int = 6,
) -> list[list[list[float]]]:
    """Decimal-exact distributed Lloyd — the TRAINED codebook whose
    serving path is fully oracle-hashable (VERDICT r7 ask #3: trained
    books previously had no hash-gated signal because float cluster
    means fold in partition order).

    The trick: per-cell means accumulate in DECIMAL(30,``scale``) —
    Spark's decimal SUM is exact integer arithmetic, so partial
    aggregation is ORDER-FREE across any partitioning (bit-identical
    on 1 partition or 1000), and DuckDB can restate every iteration
    with the same ``SUM(CAST(x AS DECIMAL))``.  The mean itself is two
    IEEE-deterministic steps both engines share: exact-decimal sum →
    double (one correctly-rounded conversion while the scaled integer
    stays below 2^53 — |element| ≤ 1 after normalization, so corpora up
    to ~10^{15-scale} rows qualify) → divide by the BIGINT count.

    Shape per iteration (nothing touches the driver but m·k·(dsub+1)
    aggregates): one map-only encode under the current book (the same
    literal-expression projection ``pq_encode`` serves), one
    posexplode to (subspace, cell) rows, one groupBy with map-side
    decimal partials.  Assignment ties break to the lowest centroid id
    and empty cells keep their previous centroid — same contract as
    every trainer here.  Init is the stride codebook, so both engines
    start from the same restatable state.

    Quantization of training data to ``scale`` decimals costs ~1e-6
    per element — noise relative to k-means cell widths; the payoff is
    codes served under a TRAINED book that the driver hash-verifies
    end-to-end (see queries/similarity 'pqtrained'/'pqtsearch')."""
    cb = collect_codebook(
        vectors, id_col, vec_col, m_sub, stride, k_max, normalize=normalize
    )
    dsub = len(cb[0][0])
    dim = m_sub * dsub
    dec = f"DECIMAL(30,{scale})"

    def elem(j: int, i: int) -> str:
        e_i = f"CAST(element_at({vec_col}, {j * dsub + i + 1}) AS DOUBLE)"
        if normalize:
            e_i = f"({e_i} / __nrm)"
        return f"CAST({e_i} AS {dec})"

    for _ in range(iters):
        # same staged-projection discipline as pq_encode (see its
        # comment): norm as a real column, >maxFields distance columns
        # so WSCG skips fusing them, codes + decimal elements on top —
        # re-stacking on pq_encode's OUTPUT instead re-inlines the
        # expression trees and stalls Catalyst
        if normalize:
            staged = vectors.select(
                F.col(vec_col),
                F.expr(_norm_sql(vec_col, dim)).alias("__nrm"),
            )
            nrm: str | None = "__nrm"
        else:
            staged = vectors.select(F.col(vec_col))
            nrm = None
        dist = staged.select(
            F.col(vec_col),
            *([F.col("__nrm")] if normalize else []),
            *[
                F.expr(_dist_sql(vec_col, j, cent, dsub, nrm)).alias(
                    f"__d{j}_{c}"
                )
                for j in range(m_sub)
                for c, cent in enumerate(cb[j])
            ],
        )

        def arr(j: int) -> str:
            return "array(%s)" % ", ".join(
                f"__d{j}_{c}" for c in range(len(cb[j]))
            )

        coded = dist.select(
            *[
                F.expr(
                    f"CAST(array_position({arr(j)}, array_min({arr(j)})) - 1 "
                    "AS INT)"
                ).alias(f"__c{j}")
                for j in range(m_sub)
            ],
            *[
                F.expr(elem(j, i)).alias(f"__e{j}_{i}")
                for j in range(m_sub)
                for i in range(dsub)
            ],
        )
        # one narrow explode over column refs → a single groupBy with
        # map-side decimal partials; m·k·(dsub+1) rows reach the driver
        packed = coded.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("__j"),
                            F.col(f"__c{j}").alias("__cid"),
                            *[
                                F.col(f"__e{j}_{i}").alias(f"__e{i}")
                                for i in range(dsub)
                            ],
                        )
                        for j in range(m_sub)
                    ]
                )
            ).alias("__s")
        ).select("__s.*")
        agg = (
            packed.groupBy("__j", "__cid")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[F.sum(f"__e{i}").alias(f"__s{i}") for i in range(dsub)],
            )
            .collect()
        )
        nxt = [[list(cent) for cent in cb[j]] for j in range(m_sub)]
        for r in agg:
            n = r["__n"]
            # float(Decimal) is the correctly-rounded double; / n is one
            # IEEE division — both identical to the oracle's
            # CAST(s AS DOUBLE) / n
            nxt[r["__j"]][r["__cid"]] = [
                float(r[f"__s{i}"]) / n for i in range(dsub)
            ]
        cb = nxt
    return cb


def rotate_vectors(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    rotation: list[list[float]],
    normalize: bool = False,
) -> DataFrame:
    """Orthogonal-rotation stage (the R of OPQ): one Arrow
    ``mapInPandas`` matmul per batch — map-only, shuffle-free, output
    is (id, rotated float64 array).  Composes with the unrotated PQ
    machinery: ``pq_encode(rotate_vectors(corpus, R), cb_opq)`` and
    ``pq_adc_topk`` over rotated queries search the OPQ index with zero
    changes to the encode/ADC plans (orthogonal R preserves norms and
    inner products, so cosine re-scores in rotated space equal raw
    cosines up to float ulps)."""
    import numpy as np

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    R = np.asarray(rotation, dtype=np.float64)
    id_field = vectors.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType, id_field.nullable),
            StructField(vec_col, ArrayType(DoubleType()), False),
        ]
    )
    data = vectors.select(id_col, vec_col)

    def rot(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = _np.stack(pdf[vec_col].to_numpy()).astype(_np.float64)
            if normalize:
                nrm = _np.sqrt((X * X).sum(axis=1))
                nrm[nrm == 0] = 1.0
                X = X / nrm[:, None]
            Xr = X @ R
            yield _pd.DataFrame(
                {id_col: pdf[id_col], vec_col: list(Xr)}
            )

    return data.mapInPandas(rot, out_schema)


def train_opq_distributed(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    m_sub: int,
    stride: int,
    k_max: int,
    iters: int = 8,
    normalize: bool = False,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Optimized Product Quantization (Ge, He, Ke, Sun, CVPR 2013,
    non-parametric alternation): learn an orthogonal rotation R and
    per-subspace codebooks jointly, so subspace boundaries stop cutting
    across correlated dimensions — the quantization-error reduction
    plain PQ leaves on the table whenever the embedding covariance
    isn't subspace-block-diagonal.

    Returns ``(R, cb)``; encode/search compose as
    ``pq_encode(rotate_vectors(X, R), cb)``.

    Each alternation is ONE corpus pass (Arrow ``mapInPandas``): rotate
    the batch by the broadcast R, assign every subvector to its nearest
    centroid, and emit two kinds of bounded partials — per-(subspace,
    centroid, position) member sums for the Lloyd update (≤ m·k·dsub
    rows per task) and the d×d cross-covariance M = Xᵀ·X̂ between the
    ROTATED input and its reconstruction (d² rows per task, accumulated
    across the task's batches before emitting).  One map-side-combined
    ``groupBy`` folds the partials; the driver update is a d×d SVD
    (Procrustes: R ← R·U·Vᵀ where M = U·S·Vᵀ — rotating the previous
    rotation keeps X read-once) plus m·k·dsub divisions.  The corpus is
    never collected and never materialized rotated; training data is
    whatever frame the caller hands in (hash-sample at 100 TB).

    Deterministic for a fixed partitioning (NumPy argmin ties to the
    lowest cid; SVD is deterministic for identical input); like the
    other trained codebooks it is NOT oracle-restatable and feeds the
    recall path (``bench.pq_recall`` 'opq64')."""
    import numpy as np

    cb0 = collect_codebook(
        vectors, id_col, vec_col, m_sub, stride, k_max, normalize=normalize
    )
    k = len(cb0[0])
    dsub = len(cb0[0][0])
    dim = m_sub * dsub
    spark = vectors.sparkSession
    data = vectors.select(F.col(vec_col).alias("__v")).persist()
    cents = np.array(cb0, dtype=np.float64)  # (m, k, dsub)
    R = np.eye(dim)
    schema = "kind string, j int, cid int, pos int, s double, n bigint"
    try:
        for _ in range(iters):
            bc = spark.sparkContext.broadcast((R, cents))

            def partials(batches):
                import numpy as _np
                import pandas as _pd

                Rc, C = bc.value
                m, kk, ds = C.shape
                d = m * ds
                M = _np.zeros((d, d))
                cols: dict[str, list] = {
                    "kind": [], "j": [], "cid": [], "pos": [], "s": [], "n": []
                }
                for pdf in batches:
                    if not len(pdf):
                        continue
                    X = _np.stack(pdf["__v"].to_numpy()).astype(_np.float64)
                    if normalize:
                        nrm = _np.sqrt((X * X).sum(axis=1))
                        nrm[nrm == 0] = 1.0
                        X = X / nrm[:, None]
                    Xr = X @ Rc
                    Xhat = _np.empty_like(Xr)
                    for j in range(m):
                        Xj = Xr[:, j * ds : (j + 1) * ds]
                        d2 = ((Xj[:, None, :] - C[j][None, :, :]) ** 2).sum(
                            axis=2
                        )
                        assign = d2.argmin(axis=1)
                        Xhat[:, j * ds : (j + 1) * ds] = C[j][assign]
                        for c in range(kk):
                            members = Xj[assign == c]
                            if not len(members):
                                continue
                            s = members.sum(axis=0)
                            for p in range(ds):
                                cols["kind"].append("cb")
                                cols["j"].append(j)
                                cols["cid"].append(c)
                                cols["pos"].append(p)
                                cols["s"].append(float(s[p]))
                                cols["n"].append(len(members))
                    # Procrustes cross-term on the ROTATED input: we
                    # solve for the residual rotation U·Vᵀ of Xr vs its
                    # reconstruction, then fold it into R on the driver
                    M += Xr.T @ Xhat
                for i in range(d):
                    for jj in range(d):
                        cols["kind"].append("m")
                        cols["j"].append(i)
                        cols["cid"].append(jj)
                        cols["pos"].append(0)
                        cols["s"].append(float(M[i, jj]))
                        cols["n"].append(0)
                yield _pd.DataFrame(cols)

            agg = (
                data.mapInPandas(partials, schema)
                .groupBy("kind", "j", "cid", "pos")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .collect()
            )
            sums = np.zeros_like(cents)
            counts = np.zeros((m_sub, k), dtype=np.int64)
            M = np.zeros((dim, dim))
            for r in agg:
                if r["kind"] == "cb":
                    sums[r["j"], r["cid"], r["pos"]] = r["s"]
                    counts[r["j"], r["cid"]] = r["n"]
                else:
                    M[r["j"], r["cid"]] = r["s"]
            for j in range(m_sub):
                for c in range(k):
                    if counts[j, c] > 0:
                        cents[j, c] = sums[j, c] / counts[j, c]
            U, _S, Vt = np.linalg.svd(M)
            # residual rotation in already-rotated space; compose so the
            # published R always maps RAW vectors to codebook space
            R = R @ (U @ Vt)
            bc.unpersist()
    finally:
        data.unpersist()
    return (
        [[float(v) for v in row] for row in R],
        [[[float(v) for v in cent] for cent in cents[j]] for j in range(m_sub)],
    )


def _sub(vec: Column, j: int, dsub: int) -> Column:
    return F.slice(vec, j * dsub + 1, dsub)


def _dist_sql(
    vec: str,
    j: int,
    cent: list[float],
    dsub: int,
    nrm: str | None = None,
) -> str:
    """Squared L2 from subvector ``j`` to ONE literal centroid as
    EXPLICIT SQL text (element_at + literal arithmetic) instead of a
    zip_with/aggregate fold: higher-order functions run interpreted
    (~µs per lambda eval — the m·k·dsub lambda count dominated encode
    wall), while this form stays inside whole-stage codegen.  Bit
    parity with the oracle's seeded fold holds because the seed only
    changes ``0.0 + p₁`` vs ``p₁`` — identical unless p₁ is -0.0, and
    squares are always +0.0.  ``nrm`` (when given, the NAME of a
    staged norm column — see ``pq_encode``) divides each element
    first, so normalization runs inside the same codegen stage without
    a corpus-sized normalized intermediate."""
    terms = []
    for i, cval in enumerate(cent):
        e_i = f"CAST(element_at({vec}, {j * dsub + i + 1}) AS DOUBLE)"
        if nrm is not None:
            e_i = f"({e_i} / {nrm})"
        d = f"({e_i} - {_dlit(cval)})"
        terms.append(f"({d} * {d})")
    return " + ".join(terms)


def _dists_to_cents(
    vec: str,
    j: int,
    cents: list[list[float]],
    dsub: int,
    nrm: str | None = None,
) -> list[Column]:
    """:func:`_dist_sql` for every centroid, parsed to Columns — the
    per-centroid form the fold↔expansion parity test pins."""
    return [F.expr(_dist_sql(vec, j, cent, dsub, nrm)) for cent in cents]


def pq_encode(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    cb: list[list[list[float]]],
    normalize: bool = False,
    keep: list[str] | None = None,
) -> DataFrame:
    """(id, codes array<int>) — map-only, shuffle-free at any scale.

    ``codes[j]`` is the 0-based id of the nearest subspace-``j``
    centroid (squared L2, first-minimum tie-break).  ``normalize=True``
    encodes the unit-normalized vector (cosine-PQ: on unit vectors
    L2² = 2 − 2·cos) with the norm fused into the codegen expression —
    pair it with a ``normalize=True`` codebook.  ``keep`` names extra
    input columns to carry through the projection (e.g. the IVF cell
    id) — a passthrough, not a join."""
    m_sub = len(cb)
    dsub = len(cb[0][0])
    # Three stacked Projects, each alias a REAL column: __nrm (the
    # norm), then one __d{j}_{c} column per (subspace, centroid)
    # distance, then the argmin codes.  Staging matters three times
    # over: (a) inlining the norm tree into each of the m·k·dsub
    # distance terms builds a ~100k-node plan that stalls Catalyst
    # (CollapseProject keeps the Projects apart because each alias is
    # non-cheap and multiply-referenced); (b) the m·k distance columns
    # push the middle Project past spark.sql.codegen.maxFields (100),
    # so whole-stage codegen SKIPS fusing it — by design: fused, the
    # m·k·dsub terms are one method that blows janino's 64 KB limit
    # and falls back after a wasted ~1.5 s compile, while the skipped
    # Project compiles as a row-based UnsafeProjection with per-field
    # method splitting; (c) expressions are built as SQL text (see
    # ``_norm_sql``) — a handful of ``F.expr`` parses instead of ~25k
    # py4j calls (~10 s of driver wall per plan).
    extra = list(keep or [])
    if normalize:
        staged = vectors.select(
            F.col(id_col),
            F.col(vec_col),
            *[F.col(c) for c in extra if c != vec_col],
            F.expr(_norm_sql(vec_col, m_sub * dsub)).alias("__nrm"),
        )
        nrm: str | None = "__nrm"
    else:
        staged = vectors
        nrm = None
    dist = staged.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        *[
            F.expr(_dist_sql(vec_col, j, cent, dsub, nrm)).alias(
                f"__d{j}_{c}"
            )
            for j in range(m_sub)
            for c, cent in enumerate(cb[j])
        ],
    )

    def arr(j: int) -> str:
        return "array(%s)" % ", ".join(
            f"__d{j}_{c}" for c in range(len(cb[j]))
        )

    codes = ", ".join(
        f"CAST(array_position({arr(j)}, array_min({arr(j)})) - 1 AS INT)"
        for j in range(m_sub)
    )
    return dist.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        F.expr(f"array({codes})").alias("codes"),
    )


def _query_dist_frame(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    cb: list[list[list[float]]],
    normalize: bool,
) -> DataFrame:
    """(query_id, __dt): one (m × k) exact query↔centroid distance
    table per query, computed in driver Python over the BOUNDED
    queries frame — floats ARE IEEE doubles, so the left-to-right
    fold + sqrt + division are bit-identical to the engine folds the
    oracle states."""
    import math

    m_sub = len(cb)
    dsub = len(cb[0][0])
    tabs = []
    for r in queries.select(F.col(id_col), F.col(vec_col)).collect():
        v = [float(x) for x in r[vec_col]]
        if normalize:
            s = 0.0
            for x in v:
                s = s + x * x
            n = math.sqrt(s)
            if n > 0:
                v = [x / n for x in v]
        dt = []
        for j in range(m_sub):
            row = []
            for cent in cb[j]:
                acc = 0.0
                for i, cval in enumerate(cent):
                    d = v[j * dsub + i] - cval
                    acc = acc + d * d
                row.append(acc)
            dt.append(row)
        tabs.append((int(r[id_col]), dt))
    return local_frame(
        queries.sparkSession,
        tabs,
        T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField(
                    "__dt", T.ArrayType(T.ArrayType(T.DoubleType()))
                ),
            ]
        ),
    )


def _adc_expr() -> Column:
    """Asymmetric distance: m table lookups indexed by the stored
    codes, accumulated in DECIMAL (order-free → portable)."""
    lookups = F.zip_with(
        F.col("codes"), F.col("__dt"), lambda c, row: F.element_at(row, c + 1)
    )
    return F.aggregate(
        lookups,
        F.lit(0).cast(_DEC),
        lambda acc, v: (acc + v.cast(_DEC)).cast(_DEC),
    )


def pq_adc_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    cb: list[list[list[float]]],
    k: int = 10,
    normalize: bool = False,
) -> DataFrame:
    """ADC top-k per query + exact cosine re-score of the winners.

    ``codes_df`` is :func:`pq_encode` output; ``queries`` holds
    (id, vec) rows — a BOUNDED frame by contract (queries are the
    client side of every PQ deployment).  Each query's (m × k)
    distance table is computed once in driver Python — floats ARE
    IEEE doubles, so the left-to-right fold is bit-identical to the
    engine expressions; ``normalize=True`` unit-normalizes the query
    first (match the encode setting) — and BROADCAST against the
    corpus codes (the corpus side never leaves the cluster); the
    approximate distance is a decimal-accumulated sum of m lookups
    (order-free → portable), ranked ascending with id tie-breaks.
    Returns (query_id, neighbor_id, adc_d2, rank, cosine) — cosine is
    the exact re-score on the original float vectors
    (normalization-invariant, computed raw-vs-raw so the fold is
    bit-identical to the oracle's), the touch-few second pass of every
    PQ deployment."""
    from mongo2mysql_spark.functions.vector import cosine_seq

    qd = _query_dist_frame(queries, id_col, vec_col, cb, normalize)
    adc = _adc_expr()
    scored = (
        codes_df.join(F.broadcast(qd))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(adc, 6).cast("double").alias("adc_d2"),
        )
    )
    # salted two-phase top-k (operators/skew.py): queries are few, so a
    # plain per-query window funnels |corpus| rows into a handful of
    # reducers — each salt bucket instead takes a LOCAL top-k and only
    # buckets×k survivors per query reach the final rank.  Identical
    # rows (the order (adc_d2, neighbor_id) is total), different plan.
    top = salted_topk_per_group(
        scored,
        ["query_id"],
        [F.col("adc_d2").asc(), F.col("neighbor_id").asc()],
        k,
    )
    # re-score on ``vectors`` for BOTH sides (not the query frame the
    # codes were built from): when callers encode NORMALIZED vectors
    # for angular ADC, the cosine must still be computed raw-vs-raw so
    # its fold is bit-identical to the oracle's raw-vector restatement
    return (
        top.join(
            vectors.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                vectors.join(
                    queries.select(F.col(id_col).alias("query_id")).distinct(),
                    vectors[id_col] == F.col("query_id"),
                ).select("query_id", F.col(vec_col).alias("__qv"))
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            "adc_d2",
            F.col("rank").cast("int").alias("rank"),
            cosine_seq(F.col("__qv"), F.col("__nv")).alias("cosine"),
        )
    )


def pq_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    cb: list[list[list[float]]],
    centroid_stride: int = 97,
    nprobe: int = 2,
    k: int = 10,
    rerank: int = 4,
    normalize: bool = True,
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ search (Jégou et al. TPAMI 2011 §V — the FAISS
    ``IndexIVFPQ`` shape, composed from this engine's IVF and PQ
    operators): coarse stride centroids prune the scan to each query's
    ``nprobe`` nearest cells, candidates inside probed cells are
    ranked by ADC over their m-byte PQ codes, and only the top
    ``k·rerank`` ADC candidates per query get the exact cosine
    re-rank.  Returns (query_id, neighbor_id, adc_d2, cosine, rank) —
    final order is the exact cosine (desc, id ties), ADC only decides
    which candidates reach the re-rank.

    The 100 TB story is MULTIPLICATIVE: IVF cuts the touched fraction
    to ~nprobe/n_cells and PQ cuts the bytes per touched vector by
    4·d/m — together the scan reads ~(nprobe/n_cells)·(m/4d) of the
    raw corpus bytes, with the float vectors read only for the
    k·rerank finalists.  ``normalize=True`` (default) makes ADC an
    angular metric so the PQ pruning agrees with the cosine IVF cells
    and the cosine re-rank.

    Per-query candidate sets cannot duplicate: each corpus vector
    lives in exactly one cell and a query's probe cells are distinct.

    ``codes_df`` (optional) is a precomputed :func:`pq_encode` frame
    for ``corpus`` with the SAME ``cb``/``normalize`` — pass it when
    the code table is shared index state (several searches, or another
    operator already built it), which is how a real deployment always
    runs: codes are written once at index-build time.
    """
    from mongo2mysql_spark.functions.vector import cosine_seq
    from mongo2mysql_spark.operators.similarity import assign_centroids

    centroids = corpus.filter(F.col(id_col) % centroid_stride == 0)
    assigned = assign_centroids(corpus, centroids, id_col, vec_col).select(
        F.col(id_col), F.col("centroid_id")
    )
    if codes_df is None:
        codes_df = pq_encode(corpus, id_col, vec_col, cb, normalize=normalize)
    codes = codes_df.join(assigned, id_col)
    qd = _query_dist_frame(queries, id_col, vec_col, cb, normalize)
    probes = assign_centroids(
        queries, centroids, id_col, vec_col, nprobe=nprobe
    ).select(F.col(id_col).alias("query_id"), F.col("centroid_id"))
    qside = probes.join(qd, "query_id")
    scored = (
        codes.join(F.broadcast(qside), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(_adc_expr(), 6).cast("double").alias("adc_d2"),
        )
    )
    # salted two-phase top-k (operators/skew.py): a plain per-query
    # window funnels all of a query's scored candidates into ONE
    # reducer; the (adc_d2, neighbor_id) order is total, so the salted
    # plan keeps exactly the same k·rerank candidates.
    kept = salted_topk_per_group(
        scored,
        ["query_id"],
        [F.col("adc_d2").asc(), F.col("neighbor_id").asc()],
        k * rerank,
    ).drop("rank")
    rescored = (
        kept.join(
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
            "adc_d2",
            cosine_seq(F.col("__qv"), F.col("__nv")).alias("cosine"),
        )
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return rescored.withColumn(
        "rank", F.row_number().over(w_cos).cast("int")
    ).filter(F.col("rank") <= k)


def _residual_frame(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    cells: dict[int, list[float]],
) -> DataFrame:
    """(id, centroid_id, __res): assign each vector to its nearest cell
    (broadcast centroids carry the vector through the max_by struct —
    no rejoin), then subtract the cell's normalized centroid from the
    normalized vector inside one broadcast-join projection."""
    from mongo2mysql_spark.operators.similarity import assign_centroids

    dim = len(next(iter(cells.values())))
    assigned = assign_centroids(
        vectors.select(id_col, vec_col), centroids, id_col, vec_col
    )
    cents_df = local_frame(
        vectors.sparkSession,
        sorted(cells.items()),
        T.StructType(
            [
                T.StructField("centroid_id", T.LongType()),
                T.StructField("__cv", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    return (
        assigned.join(F.broadcast(cents_df), "centroid_id")
        .withColumn("__nrm", F.expr(_norm_sql(vec_col, dim)))
        .select(
            id_col,
            "centroid_id",
            F.zip_with(
                F.transform(
                    F.col(vec_col), lambda v: v.cast("double") / F.col("__nrm")
                ),
                F.col("__cv"),
                lambda a, b: a - b,
            ).alias("__res"),
        )
    )


def pq_residual_encode(
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    cells: dict[int, list[float]],
    cb_res: list[list[list[float]]],
) -> DataFrame:
    """Frozen-index IVFADC encode stage for INGEST: assign batch
    vectors to the FIXED cells, encode their residuals with the FROZEN
    residual codebook — (id, centroid_id, codes), map-side end to end.
    This is the ``encode=`` hook for the streaming code-store
    (``streaming/pqstore.refresh_pq_store``): the index state
    (``centroids`` frame + ``cells`` + ``cb_res`` from
    :func:`build_pq_residual_index`) never changes between batches,
    exactly the deployed contract."""
    res = _residual_frame(batch, id_col, vec_col, centroids, cells)
    return pq_encode(res, id_col, "__res", cb_res, keep=["centroid_id"])


def build_pq_residual_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m_sub: int,
    centroid_stride: int = 97,
    code_stride: int = 7,
    k_max: int = 64,
    train_iters: int = 5,
    train: bool = True,
) -> tuple[dict[int, list[float]], list[list[list[float]]], DataFrame]:
    """IVFADC index build (Jégou et al. TPAMI 2011 §V.B / the FAISS
    ``IndexIVFPQ`` default): PQ codes quantize the RESIDUAL x−c(x) of
    each vector from its coarse cell centroid, not the raw vector.
    Residuals concentrate near the origin with far smaller spread than
    the corpus itself, so the same m·log2(k) code bits buy a finer
    quantizer — the recall gap between this and global-codebook IVF-PQ
    is the standard reason production indexes encode residuals.

    Plan shape (all corpus passes map-side): one broadcast
    nearest-centroid assignment, one broadcast join to subtract the
    cell centroid (``zip_with`` — no shuffle), a distributed-Lloyd
    codebook fit on the residual frame
    (:func:`train_codebook_distributed`), and one map-only
    :func:`pq_encode` of the residuals.  Unit-normalization is staged
    in-plan (sequential-fold norm), matching the cosine IVF cells.
    The residual frame is computed ONCE: it is persisted for the
    codebook fit (trained or stride) and the encode, and released
    before the build returns.

    Returns ``(cell_centroids, cb_res, codes_df)``: the normalized
    cell centroids keyed by id (driver-bounded — index metadata), the
    residual codebook, and the (id, codes, centroid_id) code table,
    ``localCheckpoint``-ed — a lineage-free write-once artifact whose
    plan is a single ``LogicalRDD`` leaf, so searches neither recompute
    nor re-analyze the build.  The checkpoint is the only storage the
    build leaves behind.  Like the trained-codebook paths this is
    bench/recall surface, not oracle-restatable (Lloyd means are
    float-iterative)."""
    centroids = corpus.filter(F.col(id_col) % centroid_stride == 0)
    cent_rows = centroids.select(F.col(id_col), F.col(vec_col)).collect()
    cells: dict[int, list[float]] = {}
    for r in cent_rows:
        v = [float(x) for x in r[vec_col]]
        s = 0.0
        for x in v:
            s = s + x * x
        n = s ** 0.5
        cells[int(r[id_col])] = [x / n for x in v] if n > 0 else v

    residuals = _residual_frame(
        corpus, id_col, vec_col, centroids, cells
    ).persist()
    try:
        if train:
            cb_res = train_codebook_distributed(
                residuals, id_col, "__res", m_sub,
                stride=code_stride, k_max=k_max, iters=train_iters,
            )
        else:
            # deterministic stride residual codebook (cid = id//stride on
            # both engines) — the oracle-restatable variant the hashed
            # driver branch serves; trained books are the recall path
            cb_res = collect_codebook(
                residuals, id_col, "__res", m_sub, code_stride, k_max
            )
        codes = pq_encode(
            residuals, id_col, "__res", cb_res, keep=["centroid_id"]
        ).localCheckpoint()
    finally:
        residuals.unpersist()
    return cells, cb_res, codes


def pq_ivfadc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    index: tuple[dict[int, list[float]], list[list[list[float]]], DataFrame],
    centroid_stride: int = 97,
    nprobe: int = 2,
    k: int = 10,
    rerank: int = 4,
) -> DataFrame:
    """IVFADC search over a :func:`build_pq_residual_index` index.

    Per-batch work only: ONE driver action collects each query's
    ``nprobe`` cells together with its vector (the probe still ranks
    the corpus stride centroids in Spark).  Per probed (query, cell)
    pair the distance table is built from the query's RESIDUAL against
    that cell (q−c vs the residual codebook) — driver Python over the
    bounded queries×nprobe set, same contract as
    ``_query_dist_frame``.  The tables and the query vectors enter the
    plan as Arrow-built local frames (``session.local_frame``), so no
    Python-worker task runs and ``queries`` is read once.  The scan
    side is identical to :func:`pq_ivf_topk`: broadcast (query, cell,
    table) rows against the checkpointed code table, ADC in decimal,
    top ``k·rerank`` per query by ADC, exact cosine re-rank of the
    finalists against the collected query vectors.
    Returns (query_id, neighbor_id, adc_d2, cosine, rank)."""
    import math

    from mongo2mysql_spark.functions.vector import cosine_seq
    from mongo2mysql_spark.operators.similarity import assign_centroids

    cells, cb_res, codes = index
    m_sub = len(cb_res)
    dsub = len(cb_res[0][0])
    spark = queries.sparkSession
    centroids = corpus.filter(F.col(id_col) % centroid_stride == 0)
    # the batch is bounded: in one partition the per-query probe window
    # needs no shuffle
    probes = assign_centroids(
        queries.select(id_col, vec_col).coalesce(1),
        centroids, id_col, vec_col, nprobe=nprobe,
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("centroid_id"),
        F.col(vec_col).alias("__qv"),
    ).collect()
    qraw: dict[int, list] = {}
    qvecs: dict[int, list[float]] = {}
    qside_rows = []
    for p in probes:
        qid, cid = int(p["query_id"]), int(p["centroid_id"])
        if qid not in qraw:
            qraw[qid] = p["__qv"]
            v = [float(x) for x in p["__qv"]]
            s = 0.0
            for x in v:
                s = s + x * x
            n = math.sqrt(s)
            qvecs[qid] = [x / n for x in v] if n > 0 else v
        qr = [a - b for a, b in zip(qvecs[qid], cells[cid])]
        dt = []
        for j in range(m_sub):
            row = []
            for cent in cb_res[j]:
                acc = 0.0
                for i, cval in enumerate(cent):
                    d = qr[j * dsub + i] - cval
                    acc = acc + d * d
                row.append(acc)
            dt.append(row)
        qside_rows.append((qid, cid, dt))
    qside = local_frame(
        spark,
        qside_rows,
        T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField("centroid_id", T.LongType()),
                T.StructField(
                    "__dt", T.ArrayType(T.ArrayType(T.DoubleType()))
                ),
            ]
        ),
    )
    # the raw query vectors, in the queries' own element type, so the
    # re-rank cosine folds exactly the values a scan of ``queries``
    # would have joined
    qv = local_frame(
        spark,
        list(qraw.items()),
        T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField("__qv", queries.schema[vec_col].dataType),
            ]
        ),
    )
    scored = (
        codes.join(F.broadcast(qside), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(_adc_expr(), 6).cast("double").alias("adc_d2"),
        )
    )
    # salted two-phase top-k (operators/skew.py): a plain per-query
    # window funnels all of a query's scored candidates into ONE
    # reducer; the (adc_d2, neighbor_id) order is total, so the salted
    # plan keeps exactly the same k·rerank candidates.
    kept = salted_topk_per_group(
        scored,
        ["query_id"],
        [F.col("adc_d2").asc(), F.col("neighbor_id").asc()],
        k * rerank,
    ).drop("rank")
    rescored = (
        kept.join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("__nv"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_d2",
            cosine_seq(F.col("__qv"), F.col("__nv")).alias("cosine"),
        )
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return rescored.withColumn(
        "rank", F.row_number().over(w_cos).cast("int")
    ).filter(F.col("rank") <= k)
