"""Product-quantization operator tests (operators/pq.py).

The slot-level oracle (embedding_stats 'pqcodes'/'pqsearch') verifies
cross-engine parity; these tests verify the math itself against an
independent numpy/decimal reference and the PQ invariants.
"""

from __future__ import annotations

import math
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from mongo2mysql_spark.operators.pq import (
    collect_codebook,
    pq_adc_topk,
    pq_encode,
)

DIM, M, DSUB, STRIDE, KMAX = 16, 4, 4, 3, 5


def _vectors(spark, n=40, seed=7):
    rng = np.random.default_rng(seed)
    data = [
        (i, [float(x) for x in rng.normal(size=DIM).astype(np.float32)])
        for i in range(n)
    ]
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    return spark.createDataFrame(data, schema), {
        i: np.array(v, dtype=np.float32).astype(np.float64) for i, v in data
    }


def _ref_codes(vecs, cb):
    cents = np.array(cb)
    out = {}
    for vid, v in vecs.items():
        out[vid] = [
            int(((cents[j] - v[j * DSUB : (j + 1) * DSUB]) ** 2).sum(axis=1).argmin())
            for j in range(M)
        ]
    return out


def test_pq_encode_matches_numpy_argmin(spark):
    df, vecs = _vectors(spark)
    cb = collect_codebook(df, "vec_id", "embedding", M, STRIDE, KMAX)
    assert len(cb) == M and len(cb[0]) == KMAX and len(cb[0][0]) == DSUB
    got = {r.vec_id: list(r.codes) for r in pq_encode(df, "vec_id", "embedding", cb).collect()}
    assert got == _ref_codes(vecs, cb)


def test_pq_adc_matches_decimal_reference_and_ranks_clone_first(spark):
    df, vecs = _vectors(spark)
    # plant an exact clone of vector 0: same subvectors -> same codes,
    # and its ADC distance to query 0 is exactly q's own quantization
    # error — it must surface at rank 1
    clone = df.filter(F.col("vec_id") == 0).select(
        F.lit(999).cast("long").alias("vec_id"), "embedding"
    )
    full = df.unionByName(clone)
    cb = collect_codebook(full, "vec_id", "embedding", M, STRIDE, KMAX)
    codes_df = pq_encode(full, "vec_id", "embedding", cb)
    res = pq_adc_topk(
        codes_df,
        full.filter(F.col("vec_id") == 0),
        full,
        "vec_id",
        "embedding",
        cb,
        k=5,
    ).collect()
    by_rank = {r.rank: r for r in res}
    assert by_rank[1].neighbor_id == 999
    assert by_rank[1].cosine == pytest.approx(1.0, abs=1e-6)

    # decimal reference for the clone's ADC value: sum over subspaces of
    # the query's own quantization error, per-term quantized to 1e-12
    cents = np.array(cb)
    q = vecs[0]
    codes0 = _ref_codes({0: q}, cb)[0]
    tot = Decimal(0)
    for j, c in enumerate(codes0):
        d = 0.0
        sub, cent = q[j * DSUB : (j + 1) * DSUB], cents[j][c]
        for i in range(DSUB):
            d = d + (sub[i] - cent[i]) * (sub[i] - cent[i])
        tot += Decimal(d).quantize(Decimal("1e-12"))
    assert by_rank[1].adc_d2 == pytest.approx(float(round(tot, 6)), abs=1e-9)
    # ranks are dense 1..5 and ADC-ordered
    assert sorted(by_rank) == [1, 2, 3, 4, 5]
    adcs = [by_rank[r].adc_d2 for r in range(1, 6)]
    assert adcs == sorted(adcs)


def test_pq_codebook_guards(spark):
    df, _ = _vectors(spark, n=5)
    with pytest.raises(ValueError, match="not divisible"):
        collect_codebook(df, "vec_id", "embedding", 3, STRIDE, KMAX)
    empty = df.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty PQ codebook"):
        collect_codebook(empty, "vec_id", "embedding", M, STRIDE, KMAX)


def test_pq_encode_is_shuffle_free(spark):
    """The 100 TB contract: encode is a narrow map-only projection —
    no Exchange anywhere in its plan."""
    df, _ = _vectors(spark)
    cb = collect_codebook(df, "vec_id", "embedding", M, STRIDE, KMAX)
    plan = (
        pq_encode(df, "vec_id", "embedding", cb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_pq_ivf_full_probe_equals_bruteforce(spark):
    """With every cell probed and a rerank window covering all
    candidates, IVF-PQ degenerates to the exact search: final
    (query, neighbor, rank) must equal topk_bruteforce — ADC then only
    orders candidates into the re-rank, never drops one."""
    from mongo2mysql_spark.operators.pq import pq_ivf_topk
    from mongo2mysql_spark.operators.similarity import topk_bruteforce

    df, _ = _vectors(spark, n=40, seed=5)
    cb = collect_codebook(
        df, "vec_id", "embedding", M, STRIDE, KMAX, normalize=True
    )
    q = df.filter(F.col("vec_id") < 3)
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in pq_ivf_topk(
            df, q, "vec_id", "embedding", cb,
            centroid_stride=3, nprobe=14, k=5, rerank=8,
        ).collect()
    }
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in topk_bruteforce(df, q, "vec_id", "embedding", k=5).collect()
    }
    assert got == want


def test_pq_ivf_prunes_to_probed_cells(spark):
    """nprobe=1: every returned neighbor must live in its query's
    single probed cell — the scan-fraction guarantee of IVF; plus
    call-to-call determinism."""
    from mongo2mysql_spark.operators.pq import pq_ivf_topk
    from mongo2mysql_spark.operators.similarity import assign_centroids

    df, _ = _vectors(spark, n=40, seed=5)
    cb = collect_codebook(
        df, "vec_id", "embedding", M, STRIDE, KMAX, normalize=True
    )
    q = df.filter(F.col("vec_id") < 3)
    res = pq_ivf_topk(
        df, q, "vec_id", "embedding", cb,
        centroid_stride=3, nprobe=1, k=5, rerank=2,
    ).collect()
    cents = df.filter(F.col("vec_id") % 3 == 0)
    cell = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_centroids(df, cents, "vec_id", "embedding").collect()
    }
    qcell = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_centroids(q, cents, "vec_id", "embedding").collect()
    }
    assert res, "nprobe=1 search returned nothing"
    for r in res:
        assert cell[r.neighbor_id] == qcell[r.query_id]
    again = pq_ivf_topk(
        df, q, "vec_id", "embedding", cb,
        centroid_stride=3, nprobe=1, k=5, rerank=2,
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, res))


def test_trained_codebook_deterministic_and_tighter(spark):
    """train_codebook (Lloyd on a bounded driver sample) must be
    call-to-call deterministic and produce cells no looser than its
    stride init — measured as total quantization error (sum over the
    sample of min squared distance per subspace)."""
    from mongo2mysql_spark.operators.pq import train_codebook

    df, vecs = _vectors(spark, n=60, seed=3)
    cb0 = collect_codebook(df, "vec_id", "embedding", M, STRIDE, KMAX)
    cb1 = train_codebook(
        df, "vec_id", "embedding", M, STRIDE, KMAX, sample_n=60, iters=5
    )
    cb1b = train_codebook(
        df, "vec_id", "embedding", M, STRIDE, KMAX, sample_n=60, iters=5
    )
    assert cb1 == cb1b
    assert len(cb1) == M and len(cb1[0]) == KMAX and len(cb1[0][0]) == DSUB

    def qerr(cb):
        cents = np.array(cb)
        tot = 0.0
        for v in vecs.values():
            for j in range(M):
                sub = v[j * DSUB : (j + 1) * DSUB]
                tot += ((cents[j] - sub) ** 2).sum(axis=1).min()
        return tot

    assert qerr(cb1) < qerr(cb0)
    # the trained book drops into the same encode plan unchanged
    got = {
        r.vec_id: list(r.codes)
        for r in pq_encode(df, "vec_id", "embedding", cb1).collect()
    }
    assert got == _ref_codes(vecs, cb1)


def test_distributed_trainer_bit_equals_driver_on_one_partition(spark):
    """train_codebook_distributed on a single sorted partition must be
    BIT-equal to the driver-NumPy train_codebook over the same sample:
    both assign with float64 argmin (ties to lowest cid) and compute
    cluster means as one pairwise NumPy sum / count, so with identical
    member order every float op sequence matches."""
    from mongo2mysql_spark.operators.pq import (
        train_codebook,
        train_codebook_distributed,
    )

    df, _ = _vectors(spark, n=60, seed=3)
    one = df.orderBy("vec_id").coalesce(1)
    for normalize in (False, True):
        want = train_codebook(
            df, "vec_id", "embedding", M, STRIDE, KMAX,
            sample_n=60, iters=5, normalize=normalize,
        )
        got = train_codebook_distributed(
            one, "vec_id", "embedding", M, STRIDE, KMAX,
            iters=5, normalize=normalize,
        )
        assert got == want, f"normalize={normalize}"


def test_distributed_trainer_multi_partition_tightens_cells(spark):
    """Multi-partition training folds cluster sums in partition order
    (ulp drift vs the driver trainer is allowed) but must still be
    deterministic shape-wise, strictly tighter than the stride init,
    and within float tolerance of the driver trainer's distortion."""
    from mongo2mysql_spark.operators.pq import (
        train_codebook,
        train_codebook_distributed,
    )

    df, vecs = _vectors(spark, n=60, seed=3)
    cb0 = collect_codebook(df, "vec_id", "embedding", M, STRIDE, KMAX)
    # other suites' localCheckpoint-backed memos legitimately persist in
    # the shared session — assert the TRAINER adds nothing, not that the
    # session is empty
    n_persisted_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    cbd = train_codebook_distributed(
        df.repartition(7), "vec_id", "embedding", M, STRIDE, KMAX, iters=5
    )
    cb1 = train_codebook(
        df, "vec_id", "embedding", M, STRIDE, KMAX, sample_n=60, iters=5
    )
    assert len(cbd) == M and len(cbd[0]) == KMAX and len(cbd[0][0]) == DSUB

    def qerr(cb):
        cents = np.array(cb)
        tot = 0.0
        for v in vecs.values():
            for j in range(M):
                sub = v[j * DSUB : (j + 1) * DSUB]
                tot += ((cents[j] - sub) ** 2).sum(axis=1).min()
        return tot

    assert qerr(cbd) < qerr(cb0)
    assert abs(qerr(cbd) - qerr(cb1)) <= 1e-6 * max(qerr(cb1), 1.0)
    # the distributed book drops into the same encode plan unchanged
    got = {
        r.vec_id: list(r.codes)
        for r in pq_encode(df, "vec_id", "embedding", cbd).collect()
    }
    assert got == _ref_codes(vecs, cbd)
    # training must not leak a cached frame into the shared session
    assert (
        spark.sparkContext._jsc.getPersistentRDDs().size()
        <= n_persisted_before
    )


def _correlated_vectors(spark, n=200, seed=5):
    """Vectors whose covariance is NOT subspace-block-diagonal (a dense
    mixing matrix smears correlation across subspace boundaries) — the
    regime where OPQ's learned rotation must beat plain PQ."""
    rng = np.random.default_rng(seed)
    mix = rng.normal(size=(DIM, DIM))
    data = [
        (
            i,
            [
                float(x)
                for x in (rng.normal(size=DIM) @ mix).astype(np.float32)
            ],
        )
        for i in range(n)
    ]
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    return spark.createDataFrame(data, schema), {i: v for i, v in data}


def test_opq_rotation_orthonormal_and_tighter_on_correlated_data(spark):
    """train_opq_distributed must return an orthonormal R, and on
    cross-subspace-correlated data the rotated quantization error must
    beat plain PQ trained with the same budget (Ge et al. CVPR 2013's
    headline claim)."""
    from mongo2mysql_spark.operators.pq import (
        train_codebook_distributed,
        train_opq_distributed,
    )

    df, vecs = _correlated_vectors(spark, n=200, seed=5)
    n_persisted_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    R, cbo = train_opq_distributed(
        df, "vec_id", "embedding", M, STRIDE, KMAX, iters=5
    )
    Rn = np.array(R)
    assert Rn.shape == (DIM, DIM)
    assert np.allclose(Rn.T @ Rn, np.eye(DIM), atol=1e-9)
    cbp = train_codebook_distributed(
        df, "vec_id", "embedding", M, STRIDE, KMAX, iters=5
    )
    # trainers must not leak cached frames into the shared session
    assert (
        spark.sparkContext._jsc.getPersistentRDDs().size()
        <= n_persisted_before
    )

    def qerr(cb, rot=None):
        cents = np.array(cb)
        X = np.array([vecs[i] for i in sorted(vecs)], dtype=np.float64)
        if rot is not None:
            X = X @ np.array(rot)
        tot = 0.0
        for v in X:
            for j in range(M):
                sub = v[j * DSUB : (j + 1) * DSUB]
                tot += ((cents[j] - sub) ** 2).sum(axis=1).min()
        return tot

    e_pq = qerr(cbp)
    e_opq = qerr(cbo, rot=R)
    assert e_opq < 0.95 * e_pq, (e_opq, e_pq)


def test_rotate_vectors_composes_with_pq_encode(spark):
    """rotate_vectors must be a pure map stage whose output drops into
    the literal-SQL encode unchanged: codes of the rotated corpus equal
    the NumPy reference assignment of X@R."""
    from mongo2mysql_spark.operators.pq import (
        rotate_vectors,
        train_opq_distributed,
    )

    df, vecs = _correlated_vectors(spark, n=60, seed=9)
    R, cbo = train_opq_distributed(
        df, "vec_id", "embedding", M, STRIDE, KMAX, iters=3
    )
    rotated = rotate_vectors(df, "vec_id", "embedding", R)
    assert [f.name for f in rotated.schema.fields] == ["vec_id", "embedding"]
    got = {
        r.vec_id: list(r.codes)
        for r in pq_encode(rotated, "vec_id", "embedding", cbo).collect()
    }
    Rn = np.array(R)
    want = {}
    cents = np.array(cbo)
    for i, v in vecs.items():
        xr = np.array(v, dtype=np.float64) @ Rn
        want[i] = [
            int(
                ((cents[j] - xr[j * DSUB : (j + 1) * DSUB]) ** 2)
                .sum(axis=1)
                .argmin()
            )
            for j in range(M)
        ]
    assert got == want
    # determinism: a second training over the same single partition
    # reproduces R exactly
    one = df.orderBy("vec_id").coalesce(1)
    r1, c1 = train_opq_distributed(
        one, "vec_id", "embedding", M, STRIDE, KMAX, iters=3
    )
    r2, c2 = train_opq_distributed(
        one, "vec_id", "embedding", M, STRIDE, KMAX, iters=3
    )
    assert r1 == r2 and c1 == c2


@pytest.mark.slow
def test_ivfadc_residual_index_degenerates_to_bruteforce(spark):
    """pq_ivfadc_topk with every cell probed and a rerank window
    covering the corpus must return exactly the brute-force cosine
    top-k (the final ordering is the exact re-rank; residual-ADC only
    selects candidates), and the index must carry each vector's cell.
    Repeat searches over the same index must be identical."""
    from mongo2mysql_spark.operators.pq import (
        build_pq_residual_index,
        pq_ivfadc_topk,
    )
    from mongo2mysql_spark.operators.similarity import topk_bruteforce

    df, _ = _vectors(spark, n=60, seed=3)
    q = df.filter(F.col("vec_id") < 3)
    idx = build_pq_residual_index(
        df, "vec_id", "embedding", m_sub=M,
        centroid_stride=9, code_stride=3, k_max=KMAX, train_iters=3,
    )
    cells, cb_res, codes = idx
    assert set(cells) == {i * 9 for i in range(len(cells))}
    ct = codes.collect()
    assert len(ct) == 60
    assert {r.centroid_id for r in ct} <= set(cells)
    assert all(len(r.codes) == M for r in ct)

    got = pq_ivfadc_topk(
        df, q, "vec_id", "embedding", idx,
        centroid_stride=9, nprobe=len(cells), k=5, rerank=60,
    ).collect()
    want = topk_bruteforce(df, q, "vec_id", "embedding", k=5).collect()
    assert sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in got) == \
        sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in want)

    again = pq_ivfadc_topk(
        df, q, "vec_id", "embedding", idx,
        centroid_stride=9, nprobe=len(cells), k=5, rerank=60,
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, got))


def test_pq_encode_keep_passthrough(spark):
    """keep= must carry extra columns through the encode projection
    without changing the codes."""
    df, vecs = _vectors(spark, n=25, seed=11)
    cb = collect_codebook(df, "vec_id", "embedding", M, STRIDE, KMAX)
    tagged = df.withColumn("cell", F.col("vec_id") % 4)
    plain = {
        r.vec_id: list(r.codes)
        for r in pq_encode(df, "vec_id", "embedding", cb).collect()
    }
    kept = pq_encode(
        tagged, "vec_id", "embedding", cb, keep=["cell"]
    ).collect()
    assert {r.vec_id: list(r.codes) for r in kept} == plain
    assert all(r.cell == r.vec_id % 4 for r in kept)


def test_expanded_distance_bit_equals_fold(spark):
    """_dists_to_cents (codegen expansion) must be bit-identical to the
    seeded sequential fold _l2sq_seq that sql_l2sq mirrors — this is
    the equivalence the oracle parity rests on."""
    from pyspark.sql.types import DoubleType

    from mongo2mysql_spark.operators.pq import (
        _dists_to_cents,
        _l2sq_seq,
        _sub,
        collect_codebook,
    )

    df, _ = _vectors(spark, n=25, seed=11)
    cb = collect_codebook(df, "vec_id", "embedding", M, STRIDE, KMAX)
    vec = F.col("embedding")
    checks = []
    for j in range(M):
        fold = [
            _l2sq_seq(_sub(vec, j, DSUB), F.array(*[F.lit(x) for x in cent]))
            for cent in cb[j]
        ]
        expanded = _dists_to_cents("embedding", j, cb[j], DSUB)
        checks.extend(f == e for f, e in zip(fold, expanded))
    bad = df.select(
        sum((~c).cast("int") for c in checks).alias("n_diff")
    ).agg(F.sum("n_diff")).collect()[0][0]
    assert bad == 0


def test_pq_adc_topk_is_salted_two_phase(spark):
    """The brute ADC per-query top-k must plan as the salted two-phase
    rank (operators/skew.py): phase-1 windows partition on
    (query_id, __salt) so no reducer holds a whole query's |corpus|
    scored rows (VERDICT r6 #3)."""
    df, _ = _vectors(spark)
    cb = collect_codebook(df, "vec_id", "embedding", M, STRIDE, KMAX)
    codes_df = pq_encode(df, "vec_id", "embedding", cb)
    res = pq_adc_topk(
        codes_df, df.limit(2), df, "vec_id", "embedding", cb, k=3
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    salted = [
        line
        for line in plan.splitlines()
        if "windowspecdefinition" in line and "__salt" in line
    ]
    assert salted, plan


def test_topk_hamming_matches_numpy_reference(spark):
    """Sign-pack + Hamming top-k must equal an independent NumPy
    reference (signs > 0, popcount of XOR), including the (ham, id)
    tie-break — the whole path is integer arithmetic, so equality is
    exact, not approximate."""
    from mongo2mysql_spark.operators.similarity import topk_hamming

    df, vecs = _vectors(spark, n=40, seed=13)
    q = df.filter(F.col("vec_id") < 3)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.ham)
        for r in topk_hamming(df, q, "vec_id", "embedding", dim=DIM, k=5).collect()
    }
    bits = {i: (np.asarray(v) > 0) for i, v in vecs.items()}
    want = {}
    for qid in range(3):
        scored = sorted(
            (int((bits[qid] ^ bits[n]).sum()), n)
            for n in vecs
            if n != qid
        )
        for rank, (ham, n) in enumerate(scored[:5], start=1):
            want[(qid, rank)] = (n, ham)
    assert got == want


def test_topk_hamming_rescore_degenerates_to_bruteforce(spark):
    """With overfetch covering the whole corpus the BQ funnel's final
    ranking is the exact cosine top-k — hamming then only orders
    candidates into the re-rank, never drops one."""
    from mongo2mysql_spark.operators.similarity import (
        topk_bruteforce,
        topk_hamming_rescore,
    )

    df, _ = _vectors(spark, n=40, seed=13)
    q = df.filter(F.col("vec_id") < 3)
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in topk_hamming_rescore(
            df, q, "vec_id", "embedding", dim=DIM, k=5, overfetch=40
        ).collect()
    }
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in topk_bruteforce(df, q, "vec_id", "embedding", k=5).collect()
    }
    assert got == want


def test_sign_pack_sql_word_count_and_width(spark):
    """ceil(dim/32) words, each holding at most 32 sign bits — no word
    can reach bit 63 of a signed BIGINT at ANY embedding width (the
    r7 verdict flagged the old two-word dim<=64 cap: 384/768/1024-dim
    corpora must pack too)."""
    from mongo2mysql_spark.operators.similarity import sign_pack_sql

    for dim, n_words in [(1, 1), (31, 1), (32, 1), (33, 2), (64, 2),
                         (128, 4), (384, 12), (768, 24), (1024, 32)]:
        words = sign_pack_sql("v", dim)
        assert len(words) == n_words, (dim, len(words))
    # all-ones vector saturates every bit: every packed word must stay
    # within 32 bits (non-negative, < 2^32)
    words = sign_pack_sql("embedding", 128)
    row = (
        spark.range(1)
        .select(F.array(*[F.lit(1.0)] * 128).alias("embedding"))
        .select(*[F.expr(w).alias(f"w{i}") for i, w in enumerate(words)])
        .collect()[0]
    )
    assert all(v == (1 << 32) - 1 for v in row), row
    with pytest.raises(ValueError):
        sign_pack_sql("v", 0)


def test_packers_quote_id_column(spark):
    """An id column whose name needs quoting (``doc-id``) packs to the
    same words as a plain one, under its own name."""
    from mongo2mysql_spark.operators.similarity import sign_pack, simhash_pack

    vecs = spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.array(*[F.sin(F.col("id") * 3 + j) for j in range(8)]).alias("v"),
    )
    hyphen = vecs.withColumnRenamed("doc_id", "doc-id")
    for pack in (
        lambda df, id_col: sign_pack(df, id_col, "v", 8),
        lambda df, id_col: simhash_pack(df, id_col, "v", 8, n_bits=16),
    ):
        got = pack(hyphen, "doc-id")
        assert got.columns[0] == "doc-id"
        want = pack(vecs, "doc_id")
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_topk_hamming_wide_dim_multiword(spark):
    """128-dim vectors (4 packed words — the multi-word path the old
    64-dim cap ruled out) must match an independent NumPy popcount
    reference, including the (ham, id) tie-break."""
    from mongo2mysql_spark.operators.similarity import topk_hamming

    dim, n = 128, 30
    rng = np.random.default_rng(17)
    data = [
        (i, [float(x) for x in rng.normal(size=dim).astype(np.float32)])
        for i in range(n)
    ]
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    df = spark.createDataFrame(data, schema)
    q = df.filter(F.col("vec_id") < 3)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.ham)
        for r in topk_hamming(df, q, "vec_id", "embedding", dim=dim, k=5).collect()
    }
    bits = {i: (np.asarray(v) > 0) for i, v in data}
    want = {}
    for qid in range(3):
        scored = sorted(
            (int((bits[qid] ^ bits[nid]).sum()), nid)
            for nid in bits
            if nid != qid
        )
        for rank, (ham, nid) in enumerate(scored[:5], start=1):
            want[(qid, rank)] = (nid, ham)
    assert got == want


def _salted_window_lines(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        line
        for line in plan.splitlines()
        if "windowspecdefinition" in line and "__salt" in line
    ], plan


def test_topk_hamming_is_salted_two_phase(spark):
    """The Hamming per-query top-k must plan as the salted two-phase
    rank — the r7 verdict flagged the plain per-query window here
    (each query funnels all N corpus rows through one reducer).  Also
    asserts the scored-set window count: exactly the two salted-phase
    windows, no third unsalted rank over the full scored set."""
    from mongo2mysql_spark.operators.similarity import topk_hamming

    df, _ = _vectors(spark, n=30, seed=5)
    q = df.filter(F.col("vec_id") < 2)
    res = topk_hamming(df, q, "vec_id", "embedding", dim=DIM, k=3)
    salted, plan = _salted_window_lines(res)
    assert salted, plan
    # phase-1 window partitions on (query_id, __salt): no reducer holds
    # a whole query's scored corpus
    assert any("query_id" in line for line in salted), plan


def test_ivf_pq_topks_are_salted_two_phase(spark):
    """Both IVF-PQ and IVFADC candidate selection must rank via the
    salted two-phase top-k (r7 ADVICE: pq.py's w_adc windows were the
    unsalted funnel shape)."""
    from mongo2mysql_spark.operators.pq import (
        build_pq_residual_index,
        pq_ivf_topk,
        pq_ivfadc_topk,
    )

    df, _ = _vectors(spark, n=40, seed=3)
    q = df.filter(F.col("vec_id") < 2)
    cb = collect_codebook(df, "vec_id", "embedding", M, STRIDE, KMAX)
    ivfpq = pq_ivf_topk(
        df, q, "vec_id", "embedding", cb,
        centroid_stride=9, nprobe=2, k=3, rerank=2,
    )
    salted, plan = _salted_window_lines(ivfpq)
    assert salted, plan

    idx = build_pq_residual_index(
        df, "vec_id", "embedding", m_sub=M,
        centroid_stride=9, code_stride=3, k_max=KMAX, train_iters=1,
    )
    ivfadc = pq_ivfadc_topk(
        df, q, "vec_id", "embedding", idx,
        centroid_stride=9, nprobe=2, k=3, rerank=2,
    )
    salted, plan = _salted_window_lines(ivfadc)
    assert salted, plan


def test_train_codebook_exact_partition_invariant_and_tighter(spark):
    """The decimal-exact trainer's whole point: per-cell means
    accumulate in exact DECIMAL, so the trained book is BIT-EQUAL under
    any partitioning (the float trainers differ by ulps across
    partition orders) — that is what makes a trained book
    oracle-restatable.  And Lloyd must still tighten cells vs the
    stride init."""
    from mongo2mysql_spark.operators.pq import (
        train_codebook_exact,
    )

    df, vecs = _vectors(spark, n=80, seed=23)
    cb_a = train_codebook_exact(
        df.repartition(2), "vec_id", "embedding", M, STRIDE, KMAX, iters=2
    )
    cb_b = train_codebook_exact(
        df.repartition(11), "vec_id", "embedding", M, STRIDE, KMAX, iters=2
    )
    assert cb_a == cb_b, "trained book must be bit-equal across partitionings"

    cb0 = collect_codebook(
        df, "vec_id", "embedding", M, STRIDE, KMAX, normalize=True
    )
    X = np.array([vecs[i] for i in sorted(vecs)])
    nrm = np.sqrt((X * X).sum(axis=1))
    nrm[nrm == 0] = 1.0
    X = X / nrm[:, None]

    def distortion(cb):
        tot = 0.0
        for j in range(M):
            Xj = X[:, j * DSUB : (j + 1) * DSUB]
            C = np.array(cb[j])
            tot += (
                ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).min(axis=1).sum()
            )
        return tot

    assert distortion(cb_a) < distortion(cb0)


def test_train_codebook_exact_keeps_empty_cells(spark):
    """A centroid that attracts no vectors must keep its previous
    value (same contract as every trainer here) — with k_max near n,
    some stride centroids are guaranteed empty after reassignment."""
    from mongo2mysql_spark.operators.pq import train_codebook_exact

    df, _ = _vectors(spark, n=30, seed=29)
    cb0 = collect_codebook(
        df, "vec_id", "embedding", M, 3, 10, normalize=True
    )
    cb1 = train_codebook_exact(
        df, "vec_id", "embedding", M, 3, 10, iters=1
    )
    # shape preserved; at least one centroid must have survived
    # unchanged in SOME subspace iff its cell emptied — we assert the
    # weaker invariant that holds regardless: identical shape and all
    # finite values
    assert len(cb1) == M and all(len(cb1[j]) == 10 for j in range(M))
    flat = [v for j in range(M) for c in cb1[j] for v in c]
    assert all(np.isfinite(flat))
    assert cb1 != cb0  # training moved something


def _fwht_reference_bits(vecs, dim, n_bits, seed=0):
    """Pure-Python replay of fwht_stages' exact op order (python floats
    ARE IEEE doubles, so this is bit-identical to both engines)."""
    from mongo2mysql_spark.operators.similarity import _simhash_sign

    blocks = n_bits // dim
    out = {}
    for vid, v in vecs.items():
        bits = []
        for t in range(blocks):
            cur = [
                (-float(v[i]) if _simhash_sign(seed, t, i, dim) < 0 else float(v[i]))
                for i in range(dim)
            ]
            h = 1
            while h < dim:
                nxt = [0.0] * dim
                for i in range(dim):
                    j = i ^ h
                    nxt[i] = cur[i] + cur[j] if (i & h) == 0 else cur[j] - cur[i]
                cur = nxt
                h <<= 1
            bits.extend(x >= 0 for x in cur)
        out[vid] = np.array(bits)
    return out


def test_topk_simhash_matches_python_fwht_reference(spark):
    """128-bit structured SimHash (FWHT butterflies over a ±1 diagonal)
    must equal the pure-Python replay of the same op chain, including
    (ham, id) tie-breaks — integer end-to-end, so equality is exact."""
    from mongo2mysql_spark.operators.similarity import topk_simhash

    df, vecs = _vectors(spark, n=40, seed=31)  # DIM=16
    q = df.filter(F.col("vec_id") < 3)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.ham)
        for r in topk_simhash(
            df, q, "vec_id", "embedding", dim=DIM, n_bits=64, k=5
        ).collect()
    }
    bits = _fwht_reference_bits(vecs, DIM, 64)
    want = {}
    for qid in range(3):
        scored = sorted(
            (int((bits[qid] ^ bits[n]).sum()), n) for n in vecs if n != qid
        )
        for rank, (ham, n) in enumerate(scored[:5], start=1):
            want[(qid, rank)] = (n, ham)
    assert got == want


def test_fwht_stages_guards_and_staged_plan(spark):
    """fwht_stages rejects non-power-of-two dims and non-multiple bit
    widths; the Spark plan keeps the butterfly stages STAGED (a stage
    alias survives into the physical plan — CollapseProject didn't fold
    the pipeline back into one giant tree) and the per-query top-k is
    salted."""
    from mongo2mysql_spark.operators.similarity import fwht_stages, topk_simhash

    with pytest.raises(ValueError, match="power-of-two"):
        fwht_stages("v", 48, 96)
    with pytest.raises(ValueError, match="multiple"):
        fwht_stages("v", 16, 40)

    df, _ = _vectors(spark, n=30, seed=5)
    q = df.filter(F.col("vec_id") < 2)
    res = topk_simhash(df, q, "vec_id", "embedding", dim=DIM, n_bits=32, k=3)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "__h0_1_0" in plan, "butterfly stages were collapsed"
    salted = [
        line for line in plan.splitlines()
        if "windowspecdefinition" in line and "__salt" in line
    ]
    assert salted, plan


def test_topk_truncated_rescore_degenerates_to_bruteforce(spark):
    """The Matryoshka funnel with overfetch covering the corpus must
    return exactly the full-dimension brute-force top-k (prefix cosine
    then only orders candidates into the rescore), and its prune must
    plan as the salted two-phase top-k."""
    from mongo2mysql_spark.operators.similarity import (
        topk_bruteforce,
        topk_truncated_rescore,
    )

    df, _ = _vectors(spark, n=40, seed=13)
    q = df.filter(F.col("vec_id") < 3)
    res = topk_truncated_rescore(
        df, q, "vec_id", "embedding", prefix_dim=4, k=5, overfetch=40
    )
    got = {(r.query_id, r.rank): r.neighbor_id for r in res.collect()}
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in topk_bruteforce(df, q, "vec_id", "embedding", k=5).collect()
    }
    assert got == want
    salted, plan = _salted_window_lines(res)
    assert salted, plan


def test_local_frame_round_trips_without_python_workers(spark):
    """Driver-built frames go through Arrow: nested double tables and
    float vectors come back bit-exact, an empty row list gives an empty
    frame of the given schema, and executing the frame runs no
    Python-worker task (no PythonRDD in its RDD lineage)."""
    from pyspark.sql import types as T

    from mongo2mysql_spark.session import local_frame

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("dt", T.ArrayType(T.ArrayType(T.DoubleType()))),
            T.StructField("qv", T.ArrayType(T.FloatType())),
        ]
    )
    rng = np.random.default_rng(5)
    rows = [
        (
            i,
            [[float(x) for x in rng.normal(size=3)] for _ in range(2)]
            + [[5e-324, -0.0, 1e308]],
            [float(x) for x in rng.normal(size=4).astype(np.float32)],
        )
        for i in range(3)
    ]
    df = local_frame(spark, rows, schema)
    assert df.schema == schema
    got = sorted((r.query_id, r.dt, r.qv) for r in df.collect())
    assert got == rows
    assert all(math.copysign(1.0, r.dt[2][1]) == -1.0 for r in df.collect())
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage

    empty = local_frame(spark, [], schema)
    assert empty.schema == schema
    assert empty.count() == 0


def _small_ivfadc(spark, train):
    from mongo2mysql_spark.operators.pq import build_pq_residual_index

    df, _ = _vectors(spark, n=40, seed=3)
    idx = build_pq_residual_index(
        df, "vec_id", "embedding", m_sub=M,
        centroid_stride=9, code_stride=3, k_max=KMAX, train_iters=2,
        train=train,
    )
    return df, idx


def test_ivfadc_index_codes_are_a_checkpointed_leaf(spark):
    """The code table is a write-once artifact: its analyzed plan is a
    single LogicalRDD (no build lineage for a search to re-analyze),
    and the build keeps no storage besides that checkpoint."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    _, (cells, _, codes) = _small_ivfadc(spark, train=True)
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert len(after - before) <= 1, after - before
    plan = codes._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "LogicalRDD", plan.toString()
    assert plan.children().isEmpty(), plan.toString()
    rows = codes.collect()
    assert len(rows) == 40 and {r.centroid_id for r in rows} <= set(cells)


# (query_id, rank, neighbor_id, adc_d2, cosine) of the small index below,
# recorded from the implementation that planned the build and the
# search without a checkpoint or Arrow-built frames: the rewrite must
# not move a single row
_IVFADC_ROWS = {
    True: [
        (0, 1, 20, 0.546674, 0.523088), (0, 2, 14, 0.438067, 0.505454),
        (0, 3, 23, 0.7314, 0.446504), (1, 1, 38, 1.063463, 0.470143),
        (1, 2, 23, 1.142655, 0.233406), (1, 3, 10, 1.122468, 0.102601),
        (2, 1, 32, 0.80119, 0.584583), (2, 2, 22, 1.132343, 0.361458),
        (2, 3, 6, 0.986652, 0.203501),
    ],
    False: [
        (0, 1, 20, 0.154673, 0.523088), (0, 2, 14, 0.127856, 0.505454),
        (0, 3, 23, 0.155097, 0.446504), (1, 1, 38, 1.236959, 0.470143),
        (1, 2, 26, 1.252473, 0.377507), (1, 3, 22, 1.252473, 0.07975),
        (2, 1, 32, 1.345562, 0.584583), (2, 2, 14, 1.437644, 0.3512),
        (2, 3, 28, 1.490754, 0.340099),
    ],
}


@pytest.mark.parametrize("train", [True, False])
def test_ivfadc_topk_rows_are_unchanged(spark, train):
    from mongo2mysql_spark.operators.pq import pq_ivfadc_topk

    df, idx = _small_ivfadc(spark, train)
    got = pq_ivfadc_topk(
        df, df.filter(F.col("vec_id") < 3), "vec_id", "embedding", idx,
        centroid_stride=9, nprobe=2, k=3, rerank=2,
    ).collect()
    assert sorted(
        (r.query_id, r.rank, r.neighbor_id, r.adc_d2, r.cosine) for r in got
    ) == _IVFADC_ROWS[train]


def test_ivfadc_topk_empty_batch_and_job_budget(spark):
    """An empty query batch answers with no rows.  A 3-query batch
    runs at most 9 Spark jobs: one driver action collects the probes
    and query vectors, and the distance tables and query vectors join
    as local frames (the previous plan re-read the queries and ran
    10)."""
    from mongo2mysql_spark.operators.pq import pq_ivfadc_topk

    df, idx = _small_ivfadc(spark, train=False)

    def search(q):
        return pq_ivfadc_topk(
            df, q, "vec_id", "embedding", idx,
            centroid_stride=9, nprobe=2, k=3, rerank=2,
        ).collect()

    assert search(df.filter(F.col("vec_id") < 0)) == []
    sc = spark.sparkContext
    sc.setJobGroup("ivfadc-budget", "one search batch")
    try:
        rows = search(df.filter(F.col("vec_id") < 3))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("ivfadc-budget")
    assert len(rows) == 9
    assert len(jobs) <= 9, len(jobs)
