"""Unit tests for the extension operators beyond what the oracle gate
covers: determinism, recall sanity, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mongo2mysql_spark.functions.text import tokens, word_shingles
from mongo2mysql_spark.functions.vector import cosine_exact, dot_exact, dot_fast
from mongo2mysql_spark.operators.dedup import (
    dedup_exact,
    lsh_candidate_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash_bits,
)
from mongo2mysql_spark.operators.multimodal import decode_metadata, payload_frame
from mongo2mysql_spark.operators.similarity import topk_bruteforce, topk_ivf

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),  # exact dup
        Row(doc_id=3, text=base.replace("dog", "cat")),  # near dup
        Row(doc_id=4, text="completely different words about spark engines here now"),
    ]
    return spark.createDataFrame(rows)


def test_dedup_exact_keeps_min_id(near_dups):
    out = dedup_exact(near_dups, ["text"], "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4]


def test_minhash_lsh_finds_planted_dups(near_dups):
    sig = minhash_signature(near_dups, "doc_id", word_shingles(tokens(F.col("text")), 3))
    pairs = lsh_candidate_pairs(sig, "doc_id", min_est_jaccard=0.5)
    got = {(r["id_1"], r["id_2"]): r["est_jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0  # exact dup: identical signatures
    assert (1, 3) in got or (2, 3) in got  # near dup caught by some band
    assert all(p[1] != 4 and p[0] != 4 for p in got)  # unrelated doc excluded


def test_minhash_deterministic_across_runs(near_dups):
    sig1 = minhash_signature(near_dups, "doc_id", word_shingles(tokens(F.col("text")), 3))
    sig2 = minhash_signature(
        near_dups.repartition(7), "doc_id", word_shingles(tokens(F.col("text")), 3)
    )
    assert sorted(map(repr, sig1.collect())) == sorted(map(repr, sig2.collect()))


def test_simhash_similar_docs_close(near_dups):
    sigs = {
        r["doc_id"]: r["sh"]
        for r in near_dups.select(
            "doc_id", simhash_bits(tokens(F.col("text"))).alias("sh")
        ).collect()
    }
    assert sigs[1] == sigs[2]

    def hamming(a, b):
        return sum(x != y for x, y in zip(a, b))

    assert hamming(sigs[1], sigs[3]) < hamming(sigs[1], sigs[4])  # near-dup closer


def test_ngram_jaccard_shingle_df_cap(near_dups):
    # with a df cap of 1, every shared shingle is dropped → no pairs
    out = ngram_jaccard_pairs(
        near_dups, "doc_id", word_shingles(tokens(F.col("text")), 3),
        min_jaccard=0.1, max_shingle_df=1,
    )
    assert out.count() == 0


def test_vector_dot_forms_agree(spark):
    df = spark.createDataFrame([Row(a=[1.0, 2.0, 3.0], b=[4.0, 5.0, 6.0])])
    r = df.select(
        dot_exact(F.col("a"), F.col("b")).alias("de"),
        dot_fast(F.col("a"), F.col("b")).alias("df"),
        cosine_exact(F.col("a"), F.col("a")).alias("self_cos"),
    ).collect()[0]
    assert r["de"] == 32.0 and r["df"] == 32.0
    assert r["self_cos"] == 1.0


def test_ivf_recall_vs_bruteforce(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    bf = topk_bruteforce(e, q, "vec_id", "embedding", k=5)
    ivf = topk_ivf(e, q, "vec_id", "embedding", centroid_stride=97, k=5)
    bf_set = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    ivf_set = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    # IVF searches one bucket: subset-ish recall, never empty, never super-set
    assert ivf_set
    recall = len(bf_set & ivf_set) / len(bf_set)
    assert recall > 0.05  # sanity: buckets aren't degenerate


def test_multimodal_decode_plumbing(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    pf = payload_frame(
        d, F.col("doc_id"), F.encode(F.col("text"), "UTF-8"), F.lit("text/plain")
    )
    decoded = decode_metadata(pf, mode="fake")
    rows = decoded.collect()
    assert len(rows) == 20
    r = rows[0]
    assert r["n_bytes"] > 0 and 16 <= r["width"] and 16 <= r["height"]
    assert len(r["checksum"]) == 64
    # deterministic: same payload → same metadata
    again = {x["media_id"]: x for x in decode_metadata(pf, mode="fake").collect()}
    assert again[r["media_id"]] == r
    with pytest.raises(NotImplementedError):
        decode_metadata(pf, mode="real")


def test_multimodal_features(spark):
    """Feature-extract stage: the vector contract over the fake decode
    seam."""
    from mongo2mysql_spark.operators.multimodal import extract_features

    d = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    pf = payload_frame(
        d, F.col("doc_id"), F.encode(F.col("text"), "UTF-8"), F.lit("text/plain")
    )
    feats = extract_features(pf, dim=16).collect()
    assert len(feats) == 20
    import math

    for r in feats:
        assert len(r["features"]) == 16
        assert abs(math.sqrt(sum(x * x for x in r["features"])) - 1.0) < 1e-3
    # deterministic across runs
    again = {r["media_id"]: r["features"] for r in extract_features(pf, dim=16).collect()}
    assert all(again[r["media_id"]] == r["features"] for r in feats)
    with pytest.raises(NotImplementedError):
        extract_features(pf, mode="real")


def test_payload_pruning_skips_binary(spark):
    """Metadata-only reads must not carry the payload column through the
    plan (parquet column pruning at 100 TB is the whole point)."""
    d = spark.read.parquet(f"{SF}/documents.parquet")
    pf = payload_frame(
        d, F.col("doc_id"), F.encode(F.col("text"), "UTF-8"), F.lit("text/plain")
    )
    meta_only = pf.select("media_id", "n_bytes")
    plan = meta_only._jdf.queryExecution().optimizedPlan().toString()
    assert "checksum" not in plan


def test_ivf_nprobe_recall_lever(spark):
    """IVF recall@k must improve monotonically with nprobe (the standard
    IVF accuracy/cost lever), measured against the bruteforce oracle.
    At sf0.001/stride97: recall .52 -> .68 -> .76 for nprobe 1/2/3."""
    from mongo2mysql_spark.operators.similarity import topk_bruteforce, topk_ivf
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_bruteforce(e, q, "vec_id", "embedding", k=5).collect()
    }

    def recall(nprobe: int) -> float:
        ivf = {
            (r["query_id"], r["neighbor_id"])
            for r in topk_ivf(
                e, q, "vec_id", "embedding", centroid_stride=97, k=5, nprobe=nprobe
            ).collect()
        }
        return len(ivf & bf) / len(bf)

    r1, r2, r3 = recall(1), recall(2), recall(3)
    assert r2 > r1  # widening the probe set strictly helps here
    assert r3 >= r2
    assert r3 >= 0.7


def test_bruteforce_arrow_matches_expression_path(spark):
    """The numpy/Arrow matmul fast path must produce the same top-k as
    the bit-exact expression-fold baseline (cosines rounded to 6
    decimals on both sides, same tiebreak)."""
    from mongo2mysql_spark.operators.similarity import (
        topk_bruteforce,
        topk_bruteforce_arrow,
    )
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    base = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in topk_bruteforce(e, q, "vec_id", "embedding", k=10).collect()
    }
    fast = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in topk_bruteforce_arrow(e, q, "vec_id", "embedding", k=10).collect()
    }
    assert set(base) == set(fast)
    for key, (nid, cos) in base.items():
        fnid, fcos = fast[key]
        assert fnid == nid
        assert abs(fcos - cos) <= 1e-6


# ------------------------------------------------- connected components


def _union_find_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in component
    comp = {}
    for a, b in edges:
        for x in (a, b):
            r = find(x)
            comp.setdefault(r, min(comp.get(r, r), r))
    return {x: find(x) for e in edges for x in e}


@pytest.mark.parametrize(
    "edges",
    [
        # long chain: label propagation would need 63 rounds; the
        # alternating star algorithm must converge in O(log^2 n)
        [(i, i + 1) for i in range(63)],
        # two cliques + a bridge + an isolated pair
        [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
        + [(4, 10), (20, 21)],
        # duplicate + reversed edges and self-loop noise
        [(1, 2), (2, 1), (2, 2), (2, 3), (5, 4)],
    ],
)
def test_connected_components_vs_union_find(spark, edges):
    from mongo2mysql_spark.operators.components import connected_components

    df = spark.createDataFrame(edges, "id_1: long, id_2: long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(df, "id_1", "id_2").collect()
    }
    nodes = {x for e in edges for x in e if e[0] != e[1]}
    expected = _union_find_components(
        max(nodes) + 1, [e for e in edges if e[0] != e[1]]
    )
    assert got == {x: expected[x] for x in nodes}


def test_connected_components_empty(spark):
    from mongo2mysql_spark.operators.components import connected_components

    df = spark.createDataFrame([], "id_1: long, id_2: long")
    assert connected_components(df, "id_1", "id_2").count() == 0


def _labels_of(df):
    return {r["id"]: r["component"] for r in df.collect()}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_incremental_components_equal_batch(spark, seed):
    """Split a random edge list into 3 batches; closing batch 1 then
    folding 2 and 3 incrementally must produce the exact batch answer
    over all edges — the same-answer-different-path contract the
    registered 'incclosure' branch hashes."""
    import random

    from mongo2mysql_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    rng = random.Random(seed)
    edges = [
        (rng.randrange(0, 60), rng.randrange(0, 60)) for _ in range(80)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    thirds = [edges[0::3], edges[1::3], edges[2::3]]
    sch = "id_1: long, id_2: long"
    labels = connected_components(
        spark.createDataFrame(thirds[0], sch), "id_1", "id_2"
    )
    for batch in thirds[1:]:
        labels = incremental_components(
            labels, spark.createDataFrame(batch, sch)
        )
    batch_all = connected_components(
        spark.createDataFrame(edges, sch), "id_1", "id_2"
    )
    got, want = _labels_of(labels), _labels_of(batch_all)
    # incremental keeps singleton rows for nodes whose edges all fell
    # in one batch-internal component; batch omits edgeless nodes —
    # compare on the batch node set and check the extras are self-labels
    assert {k: got[k] for k in want} == want
    assert all(got[k] == k for k in set(got) - set(want))


def test_incremental_merge_of_two_old_components(spark):
    from mongo2mysql_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    sch = "id_1: long, id_2: long"
    labels = connected_components(
        spark.createDataFrame([(1, 2), (10, 11)], sch), "id_1", "id_2"
    )
    # one bridging edge between members (not roots) of the two comps
    out = _labels_of(
        incremental_components(
            labels, spark.createDataFrame([(2, 11)], sch)
        )
    )
    assert out == {1: 1, 2: 1, 10: 1, 11: 1}
    # a new node with a SMALLER id than every old label becomes the root
    out2 = _labels_of(
        incremental_components(
            labels, spark.createDataFrame([(0, 11)], sch)
        )
    )
    assert out2 == {1: 1, 2: 1, 0: 0, 10: 0, 11: 0}


def test_incremental_batch_inside_one_component_is_noop(spark):
    from mongo2mysql_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    sch = "id_1: long, id_2: long"
    labels = connected_components(
        spark.createDataFrame([(1, 2), (2, 3)], sch), "id_1", "id_2"
    )
    out = _labels_of(
        incremental_components(
            labels, spark.createDataFrame([(1, 3), (3, 2)], sch)
        )
    )
    assert out == {1: 1, 2: 1, 3: 1}


# ------------------------------------------------------- hash sampling


def test_hash_split_deterministic_and_partition_stable(spark):
    from mongo2mysql_spark.operators.sampling import hash_sample_flag, hash_split

    df = spark.range(0, 2000).select(F.col("id"))
    one = df.select("id", hash_split(F.col("id")).alias("s")).collect()
    # same assignment after an arbitrary repartition (leakage-freedom)
    two = (
        df.repartition(7)
        .select("id", hash_split(F.col("id")).alias("s"))
        .collect()
    )
    assert {r["id"]: r["s"] for r in one} == {r["id"]: r["s"] for r in two}
    counts = {}
    for r in one:
        counts[r["s"]] = counts.get(r["s"], 0) + 1
    assert set(counts) == {"train", "val", "test"}
    # 256-bucket quantization: train=204/256, val=26/256, test=26/256
    assert abs(counts["train"] / 2000 - 204 / 256) < 0.03
    assert abs(counts["val"] / 2000 - 26 / 256) < 0.02
    # sample flag is independent of the split salt
    flagged = df.select(hash_sample_flag(F.col("id")).alias("f")).agg(F.sum("f")).first()[0]
    assert abs(flagged / 2000 - 25 / 256) < 0.02


def test_redact_pii(spark):
    from mongo2mysql_spark.functions.text import redact_pii

    rows = [
        ("a", "mail me at jo.doe+x@example.co.uk today"),
        ("b", "see https://example.com/a?b=1 and http://x.io"),
        ("c", "call +1 (555) 123-4567 or 5551234567 now"),
        ("d", "id 123456789 but keep 12345 and v2"),
        ("e", "clean text stays clean"),
    ]
    df = spark.createDataFrame(rows, "k: string, t: string")
    got = {r["k"]: r["s"] for r in df.select("k", redact_pii(F.col("t")).alias("s")).collect()}
    assert got["a"] == "mail me at <EMAIL> today"
    assert got["b"] == "see <URL> and <URL>"
    assert got["c"] == "call <PHONE> or <NUM> now"
    assert got["d"] == "id <NUM> but keep 12345 and v2"
    assert got["e"] == "clean text stays clean"


def test_bpe_tokens_lossless_and_shapes(spark):
    from mongo2mysql_spark.functions.text import bpe_tokens

    rows = [
        ("a", "it's 2026: fast-join costs 12.5%"),
        ("b", "hello   world"),  # internal whitespace run is one token
        ("c", "we'll we've don't"),
        ("d", ""),
        ("e", "x"),
    ]
    df = spark.createDataFrame(rows, "k: string, t: string")
    got = {r["k"]: list(r["s"]) for r in df.select("k", bpe_tokens(F.col("t")).alias("s")).collect()}
    assert got["a"] == ["it", "'s", " 2026", ":", " fast", "-", "join", " costs", " 12", ".", "5", "%"]
    assert got["b"] == ["hello", "   ", "world"]
    assert got["c"] == ["we", "'ll", " we", "'ve", " don", "'t"]
    assert got["d"] == []
    assert got["e"] == ["x"]
    # losslessness: concatenating the tokens reconstructs the input
    for k, t in rows:
        assert "".join(got[k]) == t


def test_embedding_quantization_roundtrip(spark):
    from mongo2mysql_spark.functions.vector import (
        cosine_exact,
        dequantize_embedding,
        dot_quantized,
        dot_seq,
        quantize_embedding,
    )
    from mongo2mysql_spark.sources.parquet import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(200)
    q = e.select("vec_id", "embedding", quantize_embedding(F.col("embedding")).alias("q"))
    # reconstruction error bounded by scale/2 per element
    err = q.select(
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                dequantize_embedding(F.col("q")),
                lambda x, y: F.abs(x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda a, v: F.greatest(a, v),
        ).alias("maxerr"),
        (F.col("q.scale") / 2 + F.lit(1e-12)).alias("bound"),
    )
    assert err.filter(F.col("maxerr") > F.col("bound")).count() == 0
    # quantized dot tracks the float dot within quantization error
    a = q.alias("a")
    b = q.alias("b")
    pairs = (
        a.join(b, F.col("a.vec_id") + 1 == F.col("b.vec_id"))
        .select(
            dot_seq(F.col("a.embedding"), F.col("b.embedding")).alias("exact"),
            dot_quantized(F.col("a.q"), F.col("b.q")).alias("approx"),
        )
    )
    bad = pairs.filter(
        F.abs(F.col("exact") - F.col("approx"))
        > 0.05 * F.greatest(F.abs(F.col("exact")), F.lit(1.0))
    )
    assert bad.count() == 0
    # tinyint codes really are 1 byte wide in the schema
    assert dict(q.select("q.codes").dtypes)["codes"] == "array<tinyint>"


def test_top_ngram_fraction_matches_python(spark):
    """Per-doc most-frequent bigram (count + fraction, deterministic
    tiebreak) must match a pure-Python recount of the same corpus."""
    from collections import Counter

    from mongo2mysql_spark.functions.text import tokens
    from mongo2mysql_spark.operators.repetition import top_ngram_fraction

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .withColumn("toks", tokens(F.col("text")))
    )
    got = {
        r["doc_id"]: (r["top_gram"], r["top_gram_count"], r["ngram_total"])
        for r in top_ngram_fraction(d, "doc_id", "toks", n=2).collect()
    }
    rows = d.select("doc_id", "text").collect()
    assert got, "no output"
    for r in rows:
        toks = r["text"].split(" ")
        grams = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        if not grams:
            assert r["doc_id"] not in got
            continue
        cnt = Counter(grams)
        best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        assert got[r["doc_id"]] == (best[0], best[1], len(grams)), r["doc_id"]


# ------------------------------------------------------------------ k-means


def test_kmeans_inertia_non_increasing_and_deterministic(spark):
    """Lloyd iteration over the fixture embeddings: per-round inertia
    (mean 1-cosine to the assigned centroid) never increases, the fit
    is reproducible run-to-run, and k-means centroids beat the raw
    stride init they start from."""
    from mongo2mysql_spark.operators.kmeans import kmeans_assign, kmeans_fit
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    cents, hist = kmeans_fit(e, "vec_id", "embedding", init_stride=97, max_iter=4)
    assert len(hist) >= 2
    assert all(b <= a + 1e-9 for a, b in zip(hist, hist[1:])), hist
    assert hist[-1] < hist[0]  # improved over the stride init

    cents2, hist2 = kmeans_fit(e, "vec_id", "embedding", init_stride=97, max_iter=4)
    assert hist == hist2
    c1 = sorted((r["centroid_id"], tuple(r["embedding"])) for r in cents.collect())
    c2 = sorted((r["centroid_id"], tuple(r["embedding"])) for r in cents2.collect())
    assert c1 == c2


def test_kmeans_assignment_is_nearest_centroid(spark):
    """Every vector's assigned centroid is its true nearest (rounded
    cosine, centroid-id tiebreak) among the fitted centroids."""
    import math

    from mongo2mysql_spark.operators.kmeans import kmeans_assign, kmeans_fit
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings").limit(60)
    cents, _ = kmeans_fit(e, "vec_id", "embedding", init_stride=20, max_iter=2)
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in kmeans_assign(e, cents, "vec_id", "embedding").collect()
    }
    cent_rows = [(r["centroid_id"], list(r["embedding"])) for r in cents.collect()]
    for r in e.collect():
        v = list(r["embedding"])
        nv = math.sqrt(sum(x * x for x in v))

        def cos(c):
            dot = sum(x * y for x, y in zip(v, c))
            return round(dot / (nv * math.sqrt(sum(y * y for y in c))), 6)

        best = min(((-cos(c), cid) for cid, c in cent_rows))[1]
        assert got[r["vec_id"]] == best


def test_ivf_with_kmeans_centroids(spark):
    """The fitted-centroid IVF path: k-means centroids slot into
    topk_ivf and recall@5 vs brute force is at least as good as the raw
    stride-init bucketing they refine."""
    from mongo2mysql_spark.operators.kmeans import kmeans_fit
    from mongo2mysql_spark.operators.similarity import topk_bruteforce, topk_ivf
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_bruteforce(e, q, "vec_id", "embedding", k=5).collect()
    }

    def recall(cents):
        ivf = {
            (r["query_id"], r["neighbor_id"])
            for r in topk_ivf(
                e, q, "vec_id", "embedding", centroid_stride=97, k=5,
                nprobe=2, centroids=cents,
            ).collect()
        }
        return len(ivf & bf) / len(bf)

    stride_recall = recall(None)
    fitted, _ = kmeans_fit(e, "vec_id", "embedding", init_stride=97, max_iter=3)
    km = fitted.select(F.col("centroid_id").alias("vec_id"), "embedding")
    km_recall = recall(km)
    assert km_recall >= stride_recall - 0.2  # same bucketing family
    assert 0.0 < km_recall <= 1.0


# ------------------------------------------------------------------ chunking


def _chunk_ref(toks, chunk_tokens, overlap):
    step = chunk_tokens - overlap
    if not toks or toks == [""]:
        return []
    out, start = [], 0
    while True:
        out.append(toks[start : start + chunk_tokens])
        start += step
        if start > max(len(toks) - overlap - 1, 0):
            break
    return out


def test_chunking_matches_reference_and_covers_all_tokens(spark):
    import random

    from pyspark.sql import Row

    from mongo2mysql_spark.operators.chunking import chunk_documents

    rng = random.Random(20260816)
    rows = [
        Row(doc_id=i, text=" ".join(f"t{j}" for j in range(n)))
        for i, n in enumerate(
            [0, 1, 15, 16, 17, 63, 64, 65, 80, 112, 113, 200]
            + [rng.randint(0, 300) for _ in range(20)]
        )
    ]
    got = {}
    for r in (
        chunk_documents(spark.createDataFrame(rows), chunk_tokens=64, overlap=16)
        .collect()
    ):
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_text"], r["n_chunk_tokens"], r["start_token"])
        )
    for row in rows:
        toks = row.text.split(" ") if row.text else [""]
        want = _chunk_ref(toks, 64, 16)
        chunks = sorted(got.get(row.doc_id, []))
        assert len(chunks) == len(want), (row.doc_id, len(chunks), len(want))
        covered = set()
        for (idx, text, n, start), w in zip(chunks, want):
            assert text.split(" ") == w if text else w == [""] or w == []
            assert n == len(w)
            covered.update(range(start, start + n))
        if want:
            # every token position is inside at least one chunk
            assert covered == set(range(1, len(toks) + 1)), row.doc_id
            # consecutive chunks overlap by exactly `overlap` (except a
            # short tail, which is allowed to overlap more)
            for (i1, _, n1, s1), (i2, _, n2, s2) in zip(chunks, chunks[1:]):
                assert s2 - s1 == 48


def test_chunking_duckdb_component_oracle(spark):
    """Cross-engine restatement: generate_series start positions +
    list_slice chunks in DuckDB must equal the operator on the real
    corpus (same contract style as the decontam component oracle)."""
    import duckdb

    from mongo2mysql_spark.operators.chunking import chunk_documents
    from mongo2mysql_spark.sources import load_table
    from tests.oracle_utils import compare, duck_connection

    docs = load_table(spark, SF, "documents")
    out = chunk_documents(docs, chunk_tokens=40, overlap=8)
    con = duck_connection(SF)
    oracle = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
    s AS (SELECT doc_id, tok, len(tok) AS n FROM t),
    starts AS (
      SELECT doc_id, tok,
             unnest(range(1, greatest(n - 8, 1) + 1, 32)) AS start_token,
             generate_subscripts(range(1, greatest(n - 8, 1) + 1, 32), 1) - 1 AS chunk_idx
      FROM s WHERE n > 0 AND NOT (n = 1 AND tok[1] = ''))
    SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
           array_to_string(list_slice(tok, start_token, start_token + 39), ' ') AS chunk_text,
           CAST(len(list_slice(tok, start_token, start_token + 39)) AS INTEGER) AS n_chunk_tokens,
           CAST(start_token AS INTEGER) AS start_token
    FROM starts
    """
    assert compare(out, con, oracle) == []


def test_incremental_lsh_equals_full_run(spark):
    """Partition the corpus into 'yesterday' and 'today'; incremental
    pairs (today vs store + today vs today) unioned with yesterday's
    full-run pairs must equal the full-run pairs over everything —
    the invariant that makes signature-store ingest sound."""
    from mongo2mysql_spark.functions.text import tokens, word_shingles
    from mongo2mysql_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_incremental_pairs,
        minhash_signature,
    )
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    sig = minhash_signature(
        docs, "doc_id", word_shingles(tokens(F.col("text")), 3), k=16
    ).persist()
    old_sig = sig.filter(F.col("doc_id") % 3 != 0)
    new_sig = sig.filter(F.col("doc_id") % 3 == 0)

    full = {
        (r["id_1"], r["id_2"], r["est_jaccard"])
        for r in lsh_candidate_pairs(sig, "doc_id", min_est_jaccard=0.5).collect()
    }
    old_only = {
        (r["id_1"], r["id_2"], r["est_jaccard"])
        for r in lsh_candidate_pairs(old_sig, "doc_id", min_est_jaccard=0.5).collect()
    }
    incr = {
        (r["id_1"], r["id_2"], r["est_jaccard"])
        for r in lsh_incremental_pairs(
            old_sig, new_sig, "doc_id", min_est_jaccard=0.5
        ).collect()
    }
    assert old_only | incr == full
    assert old_only & incr == set()  # incremental never re-reports store pairs


def test_chunk_embed_search_pipeline_composes(spark):
    """The full retrieval-prep pipeline in one plan: documents ->
    overlapping chunks -> (fake) feature extraction per chunk ->
    brute-force cosine top-k over chunk embeddings.  Asserts the
    operator family's schemas compose without adapters and results are
    deterministic across runs."""
    from mongo2mysql_spark.operators.chunking import chunk_documents
    from mongo2mysql_spark.operators.multimodal import extract_features, payload_frame
    from mongo2mysql_spark.operators.similarity import topk_bruteforce
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").limit(40)
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8)
    # stable global chunk id: doc_id * 1000 + chunk_idx
    keyed = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("chunk_id"),
        "chunk_text",
    )
    payloads = payload_frame(
        keyed, F.col("chunk_id"), F.encode(F.col("chunk_text"), "UTF-8"),
        F.lit("text/plain"),
    )
    embedded = extract_features(payloads, dim=16).select(
        F.col("media_id").alias("chunk_id"), F.col("features")
    )
    queries = embedded.filter(F.col("chunk_id") % 7000 == 0)
    assert queries.count() > 0

    def run():
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in topk_bruteforce(
                embedded, queries, "chunk_id", "features", k=3
            ).collect()
        )

    first = run()
    assert len(first) > 0
    assert first == run()  # deterministic end-to-end


def test_lsh_recall_vs_exact_jaccard_ground_truth(spark):
    """Quality evaluation, not just determinism: MinHash-LSH candidates
    must recover a high fraction of the TRUE high-similarity pairs
    (exact 3-gram Jaccard >= 0.7 as ground truth) at a reasonable
    per-pair precision proxy (est_jaccard within 0.25 of exact)."""
    from mongo2mysql_spark.functions.text import tokens, word_shingles
    from mongo2mysql_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
        ngram_jaccard_pairs,
    )
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    exact = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", word_shingles(tokens(F.col("text")), 3), min_jaccard=0.7
        ).collect()
    }
    assert exact, "fixture must contain planted near-dups"
    sig = minhash_signature(
        docs, "doc_id", word_shingles(tokens(F.col("text")), 3), k=16
    )
    lsh = {
        (r["id_1"], r["id_2"]): r["est_jaccard"]
        for r in lsh_candidate_pairs(sig, "doc_id", min_est_jaccard=0.3).collect()
    }
    hit = set(exact) & set(lsh)
    recall = len(hit) / len(exact)
    assert recall >= 0.9, (recall, len(exact))
    # estimate quality on recovered pairs
    errs = [abs(lsh[p] - exact[p]) for p in hit]
    assert sum(errs) / len(errs) <= 0.15
    assert max(errs) <= 0.35


def test_incremental_exact_dedup_equals_full_run(spark):
    """Admit the corpus in two id-ordered ingests through the key-store
    path; admitted rows must equal one full-corpus dedup_exact pass."""
    from mongo2mysql_spark.functions.text import fingerprint, tokens
    from mongo2mysql_spark.operators.dedup import (
        dedup_exact,
        dedup_exact_incremental,
    )
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", fingerprint(tokens(F.col("text"))).alias("fp")
    )
    full = {r["doc_id"] for r in dedup_exact(docs, ["fp"], "doc_id").collect()}

    first = docs.filter(F.col("doc_id") < 250)
    second = docs.filter(F.col("doc_id") >= 250)
    empty_store = first.select("fp").limit(0)
    admitted1 = dedup_exact_incremental(first, empty_store, ["fp"], "doc_id")
    store = admitted1.select("fp")
    admitted2 = dedup_exact_incremental(second, store, ["fp"], "doc_id")
    incremental = {r["doc_id"] for r in admitted1.collect()} | {
        r["doc_id"] for r in admitted2.collect()
    }
    assert incremental == full


# --------------------------------------------------------------------- bpe


def _bpe_ref(word_counts, n_merges, min_pair_count=2):
    """Pure-Python Sennrich BPE reference (count desc, pair-lex asc)."""
    from collections import Counter

    state = {tuple(list(w) + ["</w>"]): n for w, n in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for sym, n in state.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
        (a, b), c = best
        if c < min_pair_count:
            break
        merges.append((a, b, c))
        new_state = {}
        for sym, n in state.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_state[tuple(out)] = new_state.get(tuple(out), 0) + n
        state = new_state
    return merges


def test_bpe_learn_matches_python_reference(spark):
    """Merge sequence parity with the classic Sennrich reference on the
    textbook corpus AND on a random seeded corpus."""
    import random

    from mongo2mysql_spark.operators.bpe import learn_merges, word_freq_table

    corpora = [
        {"low": 5, "lower": 2, "newest": 6, "widest": 3},
    ]
    rng = random.Random(20260817)
    vocab = ["".join(rng.choice("abcdef") for _ in range(rng.randint(1, 6))) for _ in range(40)]
    corpora.append({w: rng.randint(1, 20) for w in set(vocab)})

    for wc in corpora:
        text = " ".join(w for w, n in sorted(wc.items()) for _ in range(n))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        got = learn_merges(word_freq_table(df), n_merges=12)
        want = _bpe_ref(wc, 12)
        assert got == want, (got, want)


def test_bpe_learn_checkpoints_no_state_after_last_merge(spark):
    """The state after the last merge is not checkpointed: no query
    reads it.  So the first merge adds only its top-pair query's jobs to
    the initial checkpoint, and the second adds those plus one job, the
    checkpoint of the state it queries.  (Checkpointing after every
    merge made both add the same.)"""
    from mongo2mysql_spark.operators.bpe import learn_merges, word_freq_table

    wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    text = " ".join(w for w, n in sorted(wc.items()) for _ in range(n))
    words = word_freq_table(spark.createDataFrame([(1, text)], "doc_id long, text string"))
    sc = spark.sparkContext
    jobs = {}
    for n in (0, 1, 2):
        sc.setJobGroup(f"bpe-{n}", "learn merges")
        try:
            got = learn_merges(words, n_merges=n)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert got == _bpe_ref(wc, n)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(f"bpe-{n}"))
    assert jobs[2] - jobs[1] == jobs[1] - jobs[0] + 1, jobs


def test_bpe_apply_consistent_with_training_fuse(spark):
    """Encoding the training text with the learned merges yields symbol
    streams whose concatenation restores the original words exactly
    (lossless), and every emitted symbol is either a learned merge
    product or a single character / terminal."""
    from mongo2mysql_spark.operators.bpe import (
        apply_merges,
        learn_merges,
        word_freq_table,
    )

    text = "low low low low low lower lower newest newest newest newest newest newest widest widest widest"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges = learn_merges(word_freq_table(df), n_merges=8)
    syms = apply_merges(df, merges).first()["bpe_symbols"]
    rejoined = "".join(syms).replace("</w>", " ").strip()
    assert rejoined == text
    products = {a + b for a, b, _ in merges}
    for s in syms:
        assert s in products or len(s.replace("</w>", "")) <= 1, s


# ------------------------------------------------------------ semantic dedup


def test_semantic_dedup_planted_duplicates_and_graph(spark):
    """SemDeDup composition on the fixture embeddings with planted
    duplicates: (1) every planted copy groups with its source and the
    source (smaller id) is the keeper; (2) the group labels equal a
    Python union-find closure of the emitted pair list; (3) sampled pair
    cosines match a Python recomputation on the raw vectors."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.semdedup import (
        semantic_dedup,
        semantic_dedup_pairs,
    )
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = e.union(planted)

    kwargs = dict(min_cosine=0.95, init_stride=97, kmeans_iters=2)
    pairs = semantic_dedup_pairs(corpus, "vec_id", "embedding", **kwargs).collect()
    verdict = {
        r["id"]: (r["group_id"], r["is_kept"])
        for r in semantic_dedup(corpus, "vec_id", "embedding", **kwargs).collect()
    }
    assert len(verdict) == corpus.count()

    # (1) planted copies: identical vector -> same cluster, cosine 1.0
    for r in planted.collect():
        src = r["vec_id"] - 100000
        assert verdict[r["vec_id"]][0] == verdict[src][0]
        assert not verdict[r["vec_id"]][1]  # copy is dropped
    # keeper is exactly the min id of each group, once per group
    groups: dict[int, list[int]] = {}
    for vid, (gid, kept) in verdict.items():
        groups.setdefault(gid, []).append(vid)
        assert kept == (vid == gid)
    for gid, members in groups.items():
        assert gid == min(members)

    # (2) union-find over the pair list reproduces the group labels
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for p in pairs:
        a, b = find(p["id_1"]), find(p["id_2"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    for vid, (gid, _) in verdict.items():
        expect = find(vid) if vid in parent else vid
        assert gid == expect, (vid, gid, expect)

    # (3) cosine spot-check in Python
    import math

    vecs = {r["vec_id"]: list(r["embedding"]) for r in corpus.collect()}
    for p in pairs[:20]:
        a, b = vecs[p["id_1"]], vecs[p["id_2"]]
        dot = sum(x * y for x, y in zip(a, b))
        cos = dot / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )
        assert abs(cos - p["cosine"]) < 1e-4, p
        assert p["cosine"] >= 0.95


def test_semantic_dedup_threshold_above_one_keeps_everything(spark):
    from mongo2mysql_spark.operators.semdedup import semantic_dedup
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings").limit(100)
    out = semantic_dedup(
        e, "vec_id", "embedding", min_cosine=1.01, init_stride=30, kmeans_iters=1
    )
    assert out.filter("NOT is_kept").count() == 0
    assert out.filter("id != group_id").count() == 0


# ---------------------------------------------- end-to-end training export


def test_training_export_pipeline_composes(spark, tmp_path):
    """The full training-data export path composes in one run: clean
    (quality/length/repetition filter + exact dedup + split) -> BPE
    tokenize with a learned vocabulary -> pack into fixed-length
    sequences -> shuffled shard write.  Verifies end-to-end conservation
    (every kept train doc lands in exactly one shard row), packing
    contiguity over the BPE token counts, and byte-reproducibility of
    the shard write."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.bpe import (
        apply_merges,
        learn_merges,
        word_freq_table,
    )
    from mongo2mysql_spark.operators.packing import pack_sequences
    from mongo2mysql_spark.queries.corpus import corpus_clean_pipeline
    from mongo2mysql_spark.sources import load_table
    from mongo2mysql_spark.sources.lake import parquet_files, write_training_shards
    from tests.conftest import SF_DIR

    # stage 1: clean — the pipeline behind the corpus_clean_shuffle slot
    kept = corpus_clean_pipeline(spark, SF_DIR)
    train_ids = kept.filter("split = 'train'").select("doc_id")
    docs = load_table(spark, SF_DIR, "documents").join(train_ids, "doc_id")
    n_train = docs.count()
    assert 0 < n_train < 500

    # stage 2: learn a small BPE vocabulary on the training slice, encode
    merges = learn_merges(word_freq_table(docs.limit(50)), n_merges=8)
    assert len(merges) == 8
    encoded = apply_merges(docs, merges).select(
        "doc_id", F.size("bpe_symbols").alias("n_bpe")
    )

    # stage 3: pack the BPE token stream into 512-token sequences
    packed = pack_sequences(encoded, "n_bpe", "doc_id", seq_len=512)
    rows = sorted(
        (r["doc_id"], r["n_bpe"], r["first_seq"], r["first_offset"], r["last_seq"])
        for r in packed.collect()
    )
    assert len(rows) == n_train
    cum = 0
    for doc_id, n_bpe, first_seq, first_offset, last_seq in rows:
        assert first_seq == cum // 512 and first_offset == cum % 512, doc_id
        assert last_seq == (cum + max(n_bpe, 1) - 1) // 512
        cum += n_bpe

    # stage 4: shard write, twice — identical bytes (reproducible order)
    out1, out2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    for out in (out1, out2):
        write_training_shards(
            packed.select("doc_id", "n_bpe", "first_seq"), out, "doc_id", n_shards=4
        )
    back = spark.read.parquet(out1)
    assert back.count() == n_train
    assert back.select("doc_id").distinct().count() == n_train
    assert back.select("shard").distinct().count() == 4

    def digest(path):
        import hashlib

        h = hashlib.sha256()
        for f in sorted(parquet_files(path)):
            h.update(open(f, "rb").read())
        return h.hexdigest()

    assert digest(out1) == digest(out2)


def test_builder_bucket_report_ledger(spark, tmp_path):
    """bucket_report=True adds the padding-waste ledger: bucket doc
    counts sum to train_docs, totals reconcile with a direct
    length_buckets aggregation, and the option changes nothing else."""
    from mongo2mysql_spark.pipelines import CorpusConfig, build_training_corpus
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").limit(120)
    rep = build_training_corpus(
        docs,
        str(tmp_path / "out"),
        config=CorpusConfig(bucket_report=True, n_shards=2),
    )
    ledger = rep["length_buckets"]
    assert sum(v["docs"] for v in ledger.values()) == rep["train_docs"]
    assert rep["padding_waste_tokens"] == sum(
        v["pad_tokens"] for v in ledger.values()
    )
    assert all(
        k in (16, 32, 64, 128, 256, 512, 1024, 2048) for k in ledger
    )
    # the ledger is report-only: the shard layout matches a run without it
    rep2 = build_training_corpus(
        docs,
        str(tmp_path / "out2"),
        config=CorpusConfig(n_shards=2),
    )
    assert rep2["train_docs"] == rep["train_docs"]
    assert rep2["n_sequences"] == rep["n_sequences"]
    assert "length_buckets" not in rep2


# ------------------------------------------------------------------- UDTF


def test_split_sentences_udtf_lateral_matches_python(spark):
    """The Arrow UDTF run laterally over real documents returns exactly
    the pure-Python reference rows, offsets index into the original
    text, and empty/None inputs expand to zero rows."""
    from mongo2mysql_spark.operators.udtf import (
        register_udtfs,
        split_sentences_py,
    )
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    register_udtfs(spark)
    docs = load_table(spark, SF_DIR, "documents").limit(40).select("doc_id", "text")
    docs.createOrReplaceTempView("__udtf_docs")
    got = spark.sql(
        "SELECT d.doc_id, s.sent_idx, s.sentence, s.start_pos, s.end_pos "
        "FROM __udtf_docs d, LATERAL split_sentences(d.text) s"
    ).collect()

    want = []
    for r in docs.collect():
        for row in split_sentences_py(r["text"]):
            want.append((r["doc_id"], *row))
    assert sorted((g["doc_id"], g["sent_idx"], g["sentence"], g["start_pos"],
                   g["end_pos"]) for g in got) == sorted(want)
    assert want, "fixture docs must produce sentences"

    # offsets point into the source text (terminator included)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for doc_id, _, sentence, start, end in want[:50]:
        assert texts[doc_id][start:end] == sentence

    # degenerate inputs
    empty = spark.sql(
        "SELECT s.* FROM (SELECT CAST(NULL AS STRING) t UNION ALL SELECT '') x, "
        "LATERAL split_sentences(x.t) s"
    )
    assert empty.count() == 0


@pytest.mark.slow
def test_bpe_ids_round_trip_and_vocab_ranking(spark):
    """Vocabulary ids are contiguous, frequency-ranked, deterministic;
    encode_ids -> decode_ids round-trips the original text losslessly
    over real documents."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.bpe import (
        apply_merges,
        build_vocab,
        decode_ids,
        encode_ids,
        learn_merges,
        word_freq_table,
    )
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = (
        load_table(spark, SF_DIR, "documents")
        .limit(60)
        .select("doc_id", F.regexp_replace("text", r"\s+", " ").alias("text"))
        .select("doc_id", F.trim("text").alias("text"))
    )
    merges = learn_merges(word_freq_table(docs), n_merges=10)
    encoded = apply_merges(docs, merges).localCheckpoint()
    vocab = build_vocab(encoded).localCheckpoint()

    v = sorted((r["token_id"], r["token"]) for r in vocab.collect())
    assert [i for i, _ in v] == list(range(len(v)))  # contiguous 0..V-1
    # frequency-ranked: id order equals (count desc, token asc)
    counts = {
        r["token"]: r["n"]
        for r in encoded.select(F.explode("bpe_symbols").alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [t for _, t in v] == [t for t, _ in ranked]

    ids = encode_ids(encoded, vocab, "doc_id").localCheckpoint()
    # conservation: every doc encodes, token counts preserved
    assert ids.count() == encoded.count()
    n_sym = encoded.select(F.sum(F.size("bpe_symbols"))).first()[0]
    n_ids = ids.select(F.sum(F.size("token_ids"))).first()[0]
    assert n_sym == n_ids

    back = decode_ids(ids, vocab, "doc_id")
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in back.collect():
        assert r["text"] == orig[r["doc_id"]], r["doc_id"]


def test_rp_lsh_neardup_recall_and_determinism(spark):
    """Random-projection LSH blocking: identical vectors always collide
    (recall 1.0 on exact dups), adding hash tables never loses pairs
    (LSH amplification), signatures are repartition-stable, and every
    emitted pair is a true pair (exactness within buckets)."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.dedup import embedding_neardup_pairs
    from mongo2mysql_spark.operators.semdedup import (
        rp_lsh_bits,
        rp_lsh_neardup_pairs,
    )
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = e.filter("vec_id < 300")
    planted = base.filter("vec_id % 40 = 0").select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = base.union(planted).localCheckpoint()

    # ground truth: all true pairs at the threshold (single-block call)
    truth = {
        (r["id_1"], r["id_2"])
        for r in embedding_neardup_pairs(
            corpus.withColumn("__all", F.lit(1)), "vec_id", "embedding",
            block_col="__all", min_cosine=0.95,
        ).collect()
    }
    exact_dups = {(v, v + 100000) for v in range(0, 300, 40)}
    assert exact_dups <= truth

    got1 = {
        (r["id_1"], r["id_2"])
        for r in rp_lsh_neardup_pairs(
            corpus, "vec_id", "embedding", min_cosine=0.95, n_bits=8, seeds=(0,)
        ).collect()
    }
    got3 = {
        (r["id_1"], r["id_2"])
        for r in rp_lsh_neardup_pairs(
            corpus, "vec_id", "embedding", min_cosine=0.95, n_bits=8, seeds=(0, 1, 2)
        ).collect()
    }
    # exact dups: identical vector -> identical signature -> same bucket
    assert exact_dups <= got1
    # soundness: LSH pairs are a subset of the truth (scored exactly)
    assert got1 <= truth and got3 <= truth
    # amplification: more tables never lose pairs
    assert got1 <= got3

    # signatures are partition-independent
    sig = lambda df: sorted(  # noqa: E731
        (r["vec_id"], r["b"])
        for r in df.select(
            "vec_id", rp_lsh_bits(F.col("embedding"), 8, seed=0).alias("b")
        ).collect()
    )
    assert sig(corpus) == sig(corpus.repartition(13))


@pytest.mark.slow
def test_build_training_corpus_api(spark, tmp_path):
    """The one-call pipeline API: report counts are monotone through the
    filter/dedup/decontam stages, splits partition the kept set, the
    sharded train output round-trips with every train doc exactly once,
    and the same config reproduces byte-identical output."""
    from mongo2mysql_spark.pipelines import CorpusConfig, build_training_corpus
    from mongo2mysql_spark.sources import load_table
    from mongo2mysql_spark.sources.lake import parquet_files
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    bench = docs.filter("doc_id % 97 = 0").limit(5)
    cfg = CorpusConfig(seq_len=256, n_shards=4, n_merges=4, bpe_sample_docs=40)

    out1 = str(tmp_path / "corpus1")
    report = build_training_corpus(docs, out1, benchmark=bench, config=cfg)

    assert (
        report["input_docs"]
        >= report["after_quality_filter"]
        >= report["after_exact_dedup"]
        >= report["after_decontam"]
    )
    kept = report["after_decontam"]
    assert report["train_docs"] + report["val_docs"] + report["test_docs"] == kept
    assert report["bpe_merges"] == 4 and report["n_sequences"] > 0

    train = spark.read.parquet(f"{out1}/train")
    assert train.count() == report["train_docs"]
    assert train.select("doc_id").distinct().count() == report["train_docs"]
    assert {"n_train_tokens", "first_seq", "last_seq", "shard"} <= set(train.columns)
    val = spark.read.parquet(f"{out1}/val")
    assert val.count() == report["val_docs"]

    # determinism: full rerun → identical shard bytes
    import hashlib

    out2 = str(tmp_path / "corpus2")
    report2 = build_training_corpus(docs, out2, benchmark=bench, config=cfg)
    assert report2 == report

    import os

    def digest(path):
        # keyed by shard directory, not file name (file names embed
        # task-attempt uuids; the CONTENT is the determinism contract)
        h = hashlib.sha256()
        for f in sorted(
            parquet_files(path),
            key=lambda f: os.path.dirname(os.path.relpath(f, path)),
        ):
            h.update(os.path.dirname(os.path.relpath(f, path)).encode())
            h.update(open(f, "rb").read())
        return h.hexdigest()

    assert digest(f"{out1}/train") == digest(f"{out2}/train")


def test_semantic_dedup_rp_lsh_backend(spark):
    """The rp_lsh blocking backend drops planted exact duplicates just
    like the kmeans backend, through the same verdict contract."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.semdedup import semantic_dedup
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings").filter("vec_id < 200").select(
        "vec_id", "embedding"
    )
    planted = e.filter("vec_id % 40 = 0").select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = e.union(planted)
    out = {
        r["id"]: (r["group_id"], r["is_kept"])
        for r in semantic_dedup(
            corpus, "vec_id", "embedding", min_cosine=0.999, blocking="rp_lsh"
        ).collect()
    }
    for r in planted.collect():
        src = r["vec_id"] - 100000
        assert out[r["vec_id"]] == (src, False)
        assert out[src] == (src, True)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="blocking"):
        semantic_dedup(corpus, "vec_id", "embedding", blocking="nope")


def test_build_training_corpus_near_dedup_stage(spark, tmp_path):
    """With near_dedup on, planted near-duplicate documents (one word
    changed) are collapsed to their min-id representative while the
    exact-dedup-only run keeps them."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.pipelines import CorpusConfig, build_training_corpus
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(200)
    near = docs.filter("doc_id % 20 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" shifted")).alias("text"),
    )
    corpus = docs.union(near)

    off = build_training_corpus(
        corpus, str(tmp_path / "off"),
        config=CorpusConfig(near_dedup=False, seq_len=256, n_shards=2),
    )
    on = build_training_corpus(
        corpus, str(tmp_path / "on"),
        config=CorpusConfig(near_dedup=True, near_dedup_min_jaccard=0.6,
                            seq_len=256, n_shards=2),
    )
    assert "after_near_dedup" in on
    assert on["after_near_dedup"] < on["after_exact_dedup"]
    assert on["after_exact_dedup"] == off["after_exact_dedup"]
    # every survivor set is a subset of the exact-dedup set; planted
    # copies are what got dropped
    dropped = on["after_exact_dedup"] - on["after_near_dedup"]
    n_planted_kept = near.count()
    assert 0 < dropped <= n_planted_kept + 5  # plants (minus any filtered)


@pytest.mark.slow
def test_bpe_sample_partition_independent(spark, tmp_path):
    """The BPE learning sample is selected by salted-hash rank, not an
    unordered LIMIT — a repartition(7)ed input learns the identical
    vocabulary and reports identical stage counts."""
    from mongo2mysql_spark.pipelines import CorpusConfig, build_training_corpus
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(200)
    cfg = CorpusConfig(seq_len=256, n_shards=2, n_merges=6, bpe_sample_docs=30)

    r1 = build_training_corpus(docs, str(tmp_path / "a"), config=cfg)
    r2 = build_training_corpus(
        docs.repartition(7), str(tmp_path / "b"), config=cfg
    )
    assert r1 == r2
    t1 = spark.read.parquet(str(tmp_path / "a" / "train"))
    t2 = spark.read.parquet(str(tmp_path / "b" / "train"))
    cols = ["doc_id", "n_train_tokens", "first_seq", "last_seq", "shard"]
    assert sorted(map(tuple, t1.select(*cols).collect())) == sorted(
        map(tuple, t2.select(*cols).collect())
    )


def test_corpus_builder_stage_counts_single_scan(spark, tmp_path):
    """Stage counts ride the actions that run anyway (Observations), so
    the raw input is scanned exactly once, by the fill of the first
    cache: no count pass of its own, and no re-execution of the
    upstream chain per stage."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.pipelines import CorpusConfig, build_training_corpus
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(150)
    n_docs = docs.count()
    scans = spark.sparkContext.accumulator(0)

    def counting(batches):
        for pdf in batches:
            scans.add(len(pdf))
            yield pdf

    tapped = docs.mapInPandas(counting, "doc_id long, text string")
    build_training_corpus(
        tapped, str(tmp_path / "out"),
        config=CorpusConfig(seq_len=256, n_shards=2),
    )
    # a count per stage over persisted stages scanned it twice (the
    # input_docs count + the cache fill); without the caches, 5-6x
    assert scans.value == n_docs, (
        f"raw input scanned {scans.value / n_docs:.1f}x — stage counts are "
        "re-executing the upstream chain"
    )


def test_bpe_encode_ids_unknown_symbol_raises(spark):
    """Out-of-vocabulary symbols fail loudly at execution time instead
    of being silently dropped mid-sequence (the raise_error seam in
    encode_ids)."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.bpe import encode_ids

    encoded = spark.createDataFrame(
        [(1, ["a</w>", "b</w>"]), (2, ["a</w>", "zz</w>"])],
        "doc_id long, bpe_symbols array<string>",
    )
    vocab = spark.createDataFrame(
        [("a</w>", 0), ("b</w>", 1)], "token string, token_id long"
    )
    with _pytest.raises((Py4JJavaError, Exception), match="unknown BPE symbol"):
        encode_ids(encoded, vocab, "doc_id").collect()


@pytest.mark.slow
def test_ivf_calibrated_recall_floor(spark):
    """ivf_calibrate picks the smallest nprobe meeting the 0.9 recall
    target on the calibration sample; serving at that nprobe reproduces
    the measured recall; and the floor holds even on this weakly
    clustered fixture (worst case nprobe = n_centroids = exhaustive)."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.similarity import (
        ivf_calibrate,
        topk_bruteforce,
        topk_ivf,
    )
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    nprobe, recall = ivf_calibrate(
        e, q, "vec_id", "embedding", k=5, centroid_stride=97, target_recall=0.9
    )
    assert recall >= 0.9
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_bruteforce(e, q, "vec_id", "embedding", k=5).collect()
    }
    served = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_ivf(
            e, q, "vec_id", "embedding", centroid_stride=97, k=5, nprobe=nprobe
        ).collect()
    }
    assert len(served & truth) / len(truth) == recall
    # smallest: one probe fewer misses the target (unless nprobe == 1)
    if nprobe > 1:
        under = {
            (r["query_id"], r["neighbor_id"])
            for r in topk_ivf(
                e, q, "vec_id", "embedding", centroid_stride=97, k=5,
                nprobe=nprobe - 1,
            ).collect()
        }
        assert len(under & truth) / len(truth) < 0.9


@pytest.mark.slow
def test_ivf_calibrate_bisects_not_scans(spark):
    """Calibration runs O(log nprobe*) IVF search jobs (exponential
    search + bisection over the monotone recall curve), not the linear
    scan's nprobe* jobs — each evaluation is a full calibration-sample
    search, so the job count is the calibration cost."""
    import math

    from pyspark.sql import functions as F

    import mongo2mysql_spark.operators.similarity as sim
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    calls = []
    orig = sim.topk_ivf

    def counting(*args, **kwargs):
        calls.append(kwargs.get("nprobe"))
        return orig(*args, **kwargs)

    sim.topk_ivf = counting
    try:
        nprobe, recall = sim.ivf_calibrate(
            e, q, "vec_id", "embedding", k=5, centroid_stride=97,
            target_recall=0.9,
        )
    finally:
        sim.topk_ivf = orig
    assert recall >= 0.9
    # exponential phase ≤ ceil(log2(nprobe*)) + 1 evals, bisection the
    # same again; memoization means no nprobe is evaluated twice
    bound = 2 * (math.ceil(math.log2(max(nprobe, 2))) + 1)
    assert len(calls) <= bound, (nprobe, calls)
    assert len(set(calls)) == len(calls), calls


def test_pca_whitening_algebra_and_recovery(spark):
    """PCA whitening (operators/projection.py) on a synthetic
    anisotropic cloud: whitened sample covariance is the identity and
    the mean is 0 (the algebraic contract); truncation to k keeps the
    high-variance directions (explained variance ≈ their share); the
    fitted transform round-trips against a numpy reference."""
    import numpy as np

    from mongo2mysql_spark.operators.projection import (
        embedding_moments,
        pca_whiten,
        project_embeddings,
        whitening_matrix,
    )

    rng = np.random.default_rng(7)
    # anisotropic: two dominant directions out of 8
    scales = np.array([10.0, 5.0, 1.0, 1.0, 0.5, 0.5, 0.2, 0.2])
    data = rng.normal(size=(400, 8)) * scales + np.arange(8)
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(data)],
        "vec_id long, embedding array<double>",
    ).repartition(5)

    n, mean, cov = embedding_moments(df, "embedding")
    assert n == 400
    assert np.allclose(mean, data.mean(axis=0))
    assert np.allclose(cov, np.cov(data.T, bias=True), atol=1e-8)

    out, rep = pca_whiten(df, "embedding")
    assert rep["max_abs_mean"] < 1e-9
    assert rep["max_offdiag"] < 1e-6
    assert 1 - 1e-6 < rep["diag_lo"] <= rep["diag_hi"] < 1 + 1e-6
    assert out.columns == ["vec_id", "embedding", "whitened"]

    _, rep2 = pca_whiten(df, "embedding", k=2)
    top2 = np.sort(np.linalg.eigvalsh(cov))[::-1][:2].sum()
    assert abs(rep2["explained_variance_ratio"] - top2 / cov.trace()) < 1e-9
    assert rep2["k"] == 2

    # transform parity with a pure-numpy application
    w = whitening_matrix(cov, k=2)
    got = {
        r["vec_id"]: np.asarray(r["projected"])
        for r in project_embeddings(df, "embedding", mean, w, "projected").collect()
    }
    want = (data - data.mean(axis=0)) @ w.T
    for i in range(400):
        assert np.allclose(got[i], want[i], atol=1e-9)


@pytest.mark.slow
def test_quality_classifier_learns_planted_signal(spark):
    """The distributed logistic gate (operators/classifier.py) on a
    hand-built corpus: docs carrying marker tokens are the positive
    class; after training, a held-out set classifies perfectly, the
    loss trace descends, and the marker buckets carry the largest
    positive weights.  Also pins the feature contract (percent
    frequencies sum to 100 per doc)."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.classifier import (
        holdout_confusion,
        loss_decreased,
        normalized_features,
        score_documents,
        train_quality_classifier,
    )
    from mongo2mysql_spark.operators.dsir import bucket_counts, hashed_grams

    base = ["alpha beta gamma delta common words here", "other filler text common words"]
    rows = []
    for i in range(120):
        text = base[i % 2] + f" tok{i % 7}"
        if i % 2 == 1:
            text += " zmark zmark"
        rows.append((i, text, i % 2))
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    feats = normalized_features(
        bucket_counts(hashed_grams(df, "doc_id", "text"), "doc_id"), "doc_id"
    ).persist()
    sums = feats.groupBy("doc_id").agg(F.sum("x").alias("s")).collect()
    assert all(abs(r["s"] - 100.0) < 1e-9 for r in sums)  # percent contract
    train = df.filter(F.col("doc_id") % 4 != 0).select("doc_id", "y")
    hold = df.filter(F.col("doc_id") % 4 == 0).select("doc_id", "y")
    w, b, losses = train_quality_classifier(
        feats.join(train.select("doc_id"), "doc_id"), train, "doc_id", "y",
        n_iters=10, l2=1e-2,
    )
    assert loss_decreased(losses), losses
    scored = score_documents(
        feats.join(hold.select("doc_id"), "doc_id"), w, b, "doc_id"
    )
    cm = holdout_confusion(scored, hold, "doc_id", "y")
    assert cm["fp"] == 0 and cm["fn"] == 0, cm
    assert cm["tp"] + cm["tn"] == hold.count()
    feats.unpersist()


def test_passage_dup_pairs_planted_and_capped(spark):
    """Two documents sharing a long passage pair up; unrelated docs
    don't; a boilerplate fingerprint present in every doc is excluded
    by the df cap (pairs from it alone would be quadratic noise)."""
    from mongo2mysql_spark.operators.passages import (
        doc_fingerprints,
        passage_dup_pairs,
    )

    passage = " ".join(f"shared{i}" for i in range(30))
    boiler = " ".join(f"chrome{i}" for i in range(10))
    rows = [
        Row(doc_id=1, text=boiler + " alpha beta gamma " + passage),
        Row(doc_id=2, text=boiler + " " + passage + " delta epsilon zeta"),
        Row(doc_id=3, text=boiler + " " + " ".join(f"uniq3_{i}" for i in range(40))),
        Row(doc_id=4, text=boiler + " " + " ".join(f"uniq4_{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows)
    pairs = passage_dup_pairs(
        df, "doc_id", "text", min_shared=2, max_fp_df=3
    ).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 2) in got
    assert all(p == (1, 2) for p in got), got
    p12 = next(r for r in pairs if (r["doc_a"], r["doc_b"]) == (1, 2))
    # containment uses FULL per-doc fingerprint counts (pre-cap)
    fps = doc_fingerprints(df, "doc_id", "text").collect()
    n = {i: sum(1 for r in fps if r["doc_id"] == i) for i in (1, 2)}
    assert p12["n_a"] == n[1] and p12["n_b"] == n[2]
    assert p12["containment"] == p12["shared_fps"] / min(n[1], n[2])
    # with the cap disabled, the all-doc boilerplate connects everything
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in passage_dup_pairs(
            df, "doc_id", "text", min_shared=1, max_fp_df=None
        ).collect()
    }
    assert len(uncapped) == 6  # all 4-choose-2 pairs via shared chrome


def test_dsir_weights_favor_target_like_docs(spark):
    """DSIR (operators/dsir.py): documents whose n-gram profile matches
    the target domain outscore off-domain documents; weights are
    partition-layout independent (exact decimal sums)."""
    from mongo2mysql_spark.operators.dsir import (
        bucket_counts,
        bucket_log_ratio,
        dsir_weights,
        hashed_grams,
    )

    med = "heart lung dose patient trial symptom clinical nurse"
    web = "click buy cheap deal subscribe offer winner prize"
    rows = (
        # target sample: medical
        [Row(doc_id=i, text=med + f" case{i}", grp="target") for i in range(10)]
        # corpus: 5 medical-like, 5 spam-like
        + [Row(doc_id=100 + i, text=med + f" note{i}", grp="corpus") for i in range(5)]
        + [Row(doc_id=200 + i, text=web + f" ad{i}", grp="corpus") for i in range(5)]
    )
    df = spark.createDataFrame(rows)
    corpus = df.filter(F.col("grp") == "corpus")
    counts = bucket_counts(hashed_grams(corpus, "doc_id", "text"), "doc_id")
    tcounts = bucket_counts(
        hashed_grams(df.filter(F.col("grp") == "target"), "doc_id", "text"),
        "doc_id",
    )
    ratios = bucket_log_ratio(tcounts, counts)
    w = {r["doc_id"]: float(r["weight"])
         for r in dsir_weights(counts, ratios, "doc_id").collect()}
    med_ids = [100 + i for i in range(5)]
    spam_ids = [200 + i for i in range(5)]
    assert min(w[i] for i in med_ids) > max(w[i] for i in spam_ids)
    # repartition stability: exact decimal sums can't drift with layout
    w7 = {r["doc_id"]: float(r["weight"])
          for r in dsir_weights(counts.repartition(7), ratios, "doc_id").collect()}
    assert w == w7


def test_lm_perplexity_ranks_fluent_below_garbage(spark):
    """Bigram-LM scoring (operators/lm.py): documents drawn from the
    reference distribution score lower perplexity than token-salad from
    the same vocabulary; exact-decimal logprobs are layout-stable."""
    from mongo2mysql_spark.operators.lm import lm_perplexity, train_bigram_lm

    sent = "the quick brown fox jumps over the lazy dog"
    ref = [Row(doc_id=i, text=(sent + " ") * 3 + sent) for i in range(8)]
    fluent = [Row(doc_id=100 + i, text=sent) for i in range(3)]
    # same words, scrambled order -> unseen bigrams -> smoothed floor
    salad = [
        Row(doc_id=200 + i, text=" ".join(reversed(sent.split()))) for i in range(3)
    ]
    refdf = spark.createDataFrame(ref)
    scored_df = spark.createDataFrame(fluent + salad)
    bigrams, unigrams, vocab = train_bigram_lm(refdf, "doc_id", "text")
    assert vocab == 8  # 'the' repeats
    out = {r["doc_id"]: r for r in
           lm_perplexity(scored_df, "doc_id", "text", bigrams, unigrams, vocab).collect()}
    assert max(out[100 + i]["ppl"] for i in range(3)) < min(
        out[200 + i]["ppl"] for i in range(3)
    )
    # every doc has len-1 transitions
    assert all(r["n_transitions"] == 8 for r in out.values())
    out7 = {r["doc_id"]: r["logprob"] for r in
            lm_perplexity(scored_df.repartition(7), "doc_id", "text",
                          bigrams, unigrams, vocab).collect()}
    assert {k: v["logprob"] for k, v in out.items()} == out7


def test_fused_unigrams_equal_direct(spark):
    """r13: fused=True derives the conditioning-position unigram counts
    from the bigram aggregate (sum of c12 per leading word) — must be
    row-identical to the direct tokenize+count, and perplexity output
    must be bit-identical through either table."""
    from mongo2mysql_spark.operators.lm import lm_perplexity, train_bigram_lm

    sent = "the quick brown fox jumps over the lazy dog"
    ref = [Row(doc_id=i, text=(sent + " ") * (1 + i % 3) + sent) for i in range(8)]
    ref += [Row(doc_id=50, text="solo")]  # single-token doc: no bigrams
    refdf = spark.createDataFrame(ref)
    scored = spark.createDataFrame(
        [Row(doc_id=100, text=sent),
         Row(doc_id=101, text=" ".join(reversed(sent.split())))]
    )
    bg_d, ug_d, v_d = train_bigram_lm(refdf, "doc_id", "text")
    bg_f, ug_f, v_f = train_bigram_lm(refdf, "doc_id", "text", fused=True)
    assert v_d == v_f
    assert sorted(map(tuple, ug_d.collect())) == sorted(map(tuple, ug_f.collect()))
    assert sorted(map(tuple, bg_d.collect())) == sorted(map(tuple, bg_f.collect()))
    direct = sorted(
        map(tuple, lm_perplexity(scored, "doc_id", "text", bg_d, ug_d, v_d).collect())
    )
    fused = sorted(
        map(tuple, lm_perplexity(scored, "doc_id", "text", bg_f, ug_f, v_f).collect())
    )
    assert direct == fused


@pytest.mark.slow
def test_build_training_corpus_ppl_dsir_passage_stages(spark, tmp_path):
    """The three round-4 optional stages of the one-call builder: the
    LM-perplexity gate drops token-salad, DSIR selection keeps the
    target-like fraction, passage dedup collapses near-identical
    passage clones — and the report stays monotone through all of it."""
    from mongo2mysql_spark.pipelines import CorpusConfig, build_training_corpus
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    # passage clones: ids shifted into a reserved range, same text with
    # a distinct suffix (exact dedup must NOT catch them; passage pass must)
    clones = base.filter("doc_id % 50 = 0").select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" clonedmarker alpha beta")).alias("text"),
    )
    docs = base.unionByName(clones)
    ref = base.filter("doc_id % 7 = 0")       # LM reference slice
    target = base.filter("doc_id % 11 = 0")   # DSIR target domain

    cfg = CorpusConfig(
        max_ppl=1e9,            # generous cap: gate must not bite on real docs
        dsir_keep_frac=0.5,
        passage_dedup=True,
        passage_min_containment=0.5,
        passage_min_shared=2,
        seq_len=256,
        n_shards=2,
    )
    report = build_training_corpus(
        docs, str(tmp_path / "c"), config=cfg,
        lm_reference=ref, dsir_target=target,
    )
    assert (
        report["after_quality_filter"]
        >= report["after_ppl_filter"]
        >= report["after_dsir_select"]
        >= report["after_exact_dedup"]
        >= report["after_passage_dedup"]
    )
    # ppl cap at 1e9 keeps everything; DSIR keeps ~half (ties may round up)
    assert report["after_ppl_filter"] == report["after_quality_filter"]
    assert report["after_dsir_select"] <= report["after_ppl_filter"] * 0.65
    # at least one surviving clone pair collapsed in the passage pass
    assert report["after_passage_dedup"] < report["after_exact_dedup"]


def test_build_training_corpus_survives_empty_pipeline(spark, tmp_path):
    """Degenerate input (every doc under the token floor): all stage
    counts report zero, packing reports zero sequences, and the builder
    completes instead of crashing — the guard for a over-aggressive
    filter config wiping a corpus slice."""
    from mongo2mysql_spark.pipelines import build_training_corpus

    docs = spark.createDataFrame(
        [(i, "tiny doc") for i in range(30)], "doc_id long, text string"
    )
    report = build_training_corpus(docs, str(tmp_path / "c"))
    assert report["input_docs"] == 30
    assert report["after_quality_filter"] == 0
    assert report["train_docs"] == report["val_docs"] == report["test_docs"] == 0
    assert report["train_tokens"] == 0 and report["n_sequences"] == 0


@pytest.mark.slow
def test_build_training_corpus_classifier_gate(spark, tmp_path):
    """The discriminative quality gate inside the one-call builder
    (GPT-3 recipe: reference positives vs a corpus sample as
    negatives): with clf_keep_frac=0.5 roughly half the quality-kept
    docs survive the gate, the stage count is monotone, and the stage
    reports into the builder's log."""
    from mongo2mysql_spark.pipelines import CorpusConfig, build_training_corpus
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    ref = docs.filter("doc_id % 3 = 0")  # stands in for the curated slice
    cfg = CorpusConfig(clf_keep_frac=0.5, clf_iters=6, seq_len=256, n_shards=2)
    report = build_training_corpus(
        docs, str(tmp_path / "c"), config=cfg, clf_reference=ref,
    )
    kept, gated = report["after_quality_filter"], report["after_classifier_gate"]
    assert gated <= kept
    # percentile cut keeps ~half (ties keep: >=; interpolation: small band)
    assert abs(gated - 0.5 * kept) <= 0.1 * kept + 2, report
    assert report["after_exact_dedup"] <= gated
    assert report["train_docs"] + report["val_docs"] + report["test_docs"] == \
        report["after_exact_dedup"]


def test_ivf_quantized_prerank_matches_exact_path(spark):
    """IVF with the int8 integer-MAC pre-rank (quantized=True) must
    return the same neighbors as the plain IVF path — quantization only
    chooses which candidates reach the exact re-rank, and at int8
    precision with 4x overfetch none of the true top-k fall out."""
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    kw = dict(centroid_stride=97, k=5, nprobe=2)
    exact = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in topk_ivf(e, q, "vec_id", "embedding", **kw).collect()
    }
    quant = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in topk_ivf(
            e, q, "vec_id", "embedding", quantized=True, overfetch=4, **kw
        ).collect()
    }
    assert exact == quant


def test_shared_passage_spans_locate_planted_region(spark):
    """shared_passage_spans recovers WHERE the duplicated passage sits:
    the merged span covers the planted region to within the documented
    ±(w+k) slack, and disjoint shared regions yield separate spans."""
    from mongo2mysql_spark.operators.passages import shared_passage_spans

    k, w = 5, 4
    p1 = [f"shared{i}" for i in range(30)]       # passage 1
    p2 = [f"common{i}" for i in range(25)]        # passage 2 (disjoint)
    pre_a = [f"ua{i}" for i in range(40)]
    mid_a = [f"ma{i}" for i in range(50)]
    doc_a = pre_a + p1 + mid_a + p2               # p1 at [40,70), p2 at [120,145)
    doc_b = [f"ub{i}" for i in range(10)] + p1 + [f"vb{i}" for i in range(60)] + p2
    rows = [
        Row(doc_id=1, text=" ".join(doc_a)),
        Row(doc_id=2, text=" ".join(doc_b)),
        Row(doc_id=3, text=" ".join(f"zz{i}" for i in range(80))),
    ]
    spans = shared_passage_spans(
        spark.createDataFrame(rows), "doc_id", "text",
        k=k, w=w, min_anchors=1, merge_gap=20,
    ).collect()
    assert all((r["doc_a"], r["doc_b"]) == (1, 2) for r in spans)
    slack = w + k
    hit1 = [r for r in spans if abs(r["a_start"] - 40) <= slack
            and abs(r["a_end"] - 70) <= slack]
    hit2 = [r for r in spans if abs(r["a_start"] - 120) <= slack
            and abs(r["a_end"] - 145) <= slack]
    assert hit1 and hit2, spans
    # nothing claims the unique middle region
    assert not [r for r in spans if r["a_start"] > 75 and r["a_end"] < 115], spans


def test_positional_fingerprints_agree_with_winnow_mins(spark):
    """doc_fingerprints_pos selects exactly the same hash SET as the
    array-expression winnow_mins path (positions are extra information,
    never a different selection), on real documents."""
    from mongo2mysql_spark.operators.passages import (
        doc_fingerprints,
        doc_fingerprints_pos,
    )
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(50)
    flat = {(r["doc_id"], r["fp"]) for r in doc_fingerprints(d, "doc_id", "text").collect()}
    pos = doc_fingerprints_pos(d, "doc_id", "text").collect()
    assert {(r["doc_id"], r["fp"]) for r in pos} == flat
    # every recorded position points at a real shingle start
    from mongo2mysql_spark.functions.text import shingle_hashes, tokens as toks
    hs = {r["doc_id"]: r["h"] for r in d.select(
        "doc_id", shingle_hashes(toks(F.col("text")), 5).alias("h")).collect()}
    for r in pos:
        assert hs[r["doc_id"]][r["pos"]] == r["fp"]


def test_strip_passage_spans_removes_one_copy(spark):
    """strip_passage_spans: after the pass, the shared passage survives
    in exactly one document (doc_b keeps the corpus copy), unique
    content is untouched, and untouched docs pass through whole."""
    from mongo2mysql_spark.operators.passages import (
        shared_passage_spans,
        strip_passage_spans,
    )

    passage = [f"shared{i}" for i in range(30)]
    a_uniq = [f"ua{i}" for i in range(40)]
    b_uniq = [f"ub{i}" for i in range(40)]
    rows = [
        Row(doc_id=1, text=" ".join(a_uniq + passage)),
        Row(doc_id=2, text=" ".join(passage + b_uniq)),
        Row(doc_id=3, text=" ".join(f"zz{i}" for i in range(60))),
    ]
    df = spark.createDataFrame(rows)
    spans = shared_passage_spans(df, "doc_id", "text", min_anchors=1, merge_gap=20)
    out = {r["doc_id"]: r for r in
           strip_passage_spans(df, spans, "doc_id", "text").collect()}
    t1, t2, t3 = (set(out[i]["text"].split()) for i in (1, 2, 3))
    shared = set(passage)
    assert shared <= t2 and out[2]["n_stripped_tokens"] == 0
    # doc_a lost (most of) the passage but kept its unique prefix
    assert len(t1 & shared) <= len(passage) // 3
    assert set(a_uniq) <= t1
    assert out[1]["n_stripped_tokens"] >= len(passage) - 9  # ±(w+k) slack
    assert out[3]["n_stripped_tokens"] == 0 and len(t3) == 60


@pytest.mark.slow
def test_build_training_corpus_passage_strip_mode(spark, tmp_path):
    """passage_mode='strip' keeps clone documents (their unique content
    survives) while removing the duplicated span — kept-doc count stays
    at the exact-dedup level instead of dropping whole docs."""
    from mongo2mysql_spark.pipelines import CorpusConfig, build_training_corpus
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    marker = " ".join(f"uniqmark{i}" for i in range(30))
    clones = base.filter("doc_id % 50 = 0").select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" " + marker)).alias("text"),
    )
    docs = base.unionByName(clones)
    strip = build_training_corpus(
        docs, str(tmp_path / "strip"),
        config=CorpusConfig(passage_dedup=True, passage_mode="strip",
                            passage_min_shared=2, seq_len=256, n_shards=2),
    )
    drop = build_training_corpus(
        docs, str(tmp_path / "drop"),
        config=CorpusConfig(passage_dedup=True, passage_mode="drop",
                            passage_min_shared=2, passage_min_containment=0.5,
                            seq_len=256, n_shards=2),
    )
    # stripping preserves documents that drop-mode throws away whole —
    # only docs reduced below the length floor fall out
    assert strip["after_passage_strip"] >= drop["after_passage_dedup"]
    assert 0 < strip["after_passage_strip"] <= strip["after_exact_dedup"]


def test_self_repetition_spans_strip_repeated_block(spark):
    """self_repetition_spans marks the LATER occurrences of a repeated
    in-document block (the first copy is never marked) and composes
    with strip_passage_spans; a non-repetitive doc is untouched."""
    from mongo2mysql_spark.operators.passages import (
        self_repetition_spans,
        strip_passage_spans,
    )

    block = [f"blk{i}" for i in range(25)]
    uniq = [f"u{i}" for i in range(30)]
    tail = [f"t{i}" for i in range(20)]
    # block at [0,25), repeated at [55,80) and [100,125)
    doc = block + uniq + block + tail + block
    rows = [
        Row(doc_id=1, text=" ".join(doc)),
        Row(doc_id=2, text=" ".join(f"x{i}" for i in range(80))),
    ]
    df = spark.createDataFrame(rows)
    spans = self_repetition_spans(df, "doc_id", "text", min_anchors=1)
    got = spans.collect()
    assert all(r["doc_a"] == 1 for r in got)
    assert min(r["a_start"] for r in got) >= 25  # first copy never marked
    out = {r["doc_id"]: r for r in
           strip_passage_spans(df, spans, "doc_id", "text").collect()}
    kept = out[1]["text"].split()
    # the first copy survives whole; repeats lose their interior (span
    # edges carry the documented ~±(w+k) slack, so boundary tokens of a
    # repeat may survive) and the unique runs are untouched
    assert kept[:25] == block
    assert sum(1 for t in kept if t == "blk12") == 1  # block interior once
    assert out[1]["n_stripped_tokens"] >= 20  # most of both repeats gone
    assert set(uniq) <= set(kept) and set(tail) <= set(kept)
    assert out[2]["n_stripped_tokens"] == 0


def test_build_training_corpus_c4_and_blocklist_stages(spark, tmp_path):
    """The URL host-blocklist and C4 line-clean stages compose at the
    head of the builder: blocked hosts are gone before any text work,
    junk pages/lines are gone before quality scoring, stage counts are
    monotone, and the cleaned text (not the raw page) is what flows
    into tokenize/pack."""
    from pyspark.sql import Row

    from mongo2mysql_spark.pipelines import CorpusConfig, build_training_corpus

    prose = [
        f"Sentence number {i} has plenty of words to keep around."
        for i in range(8)
    ]

    def as_html(lines):
        # the raw-web shape: block tags carry the line structure, plus
        # head/script machinery that html_strip must remove
        body = "".join(f"<p>{ln}</p>" for ln in lines)
        return f"<html><head><script>x()</script></head><body>{body}</body></html>"

    good_page = as_html(prose)
    junk_lines = as_html(
        prose + ["click here now", "Enable javascript to continue browsing."]
    )
    lorem_page = as_html(prose + ["Lorem ipsum dolor sit amet."])
    rows = [
        Row(doc_id=1, text=good_page, url="https://ok.com/a"),
        Row(doc_id=2, text=junk_lines, url="https://ok.com/b"),
        Row(doc_id=3, text=lorem_page, url="https://ok.com/c"),  # page-dropped
        Row(doc_id=4, text=as_html(prose + ["extra words here."]), url="https://www.spam.biz/x"),
        Row(doc_id=5, text=as_html(prose + ["more words here."]), url="http://spam.biz/y"),
    ]
    docs = spark.createDataFrame(rows)
    bl = spark.createDataFrame([("spam.biz",)], "host string")
    cfg = CorpusConfig(
        html_strip=True,
        c4_line_clean=True,
        url_col="url",
        min_tokens=10,
        min_quality=0.0,
        max_dup_fraction=1.0,  # the template prose is deliberately repetitive
        seq_len=64,
        n_shards=2,
    )
    report = build_training_corpus(
        docs, str(tmp_path / "out"), config=cfg, host_blocklist=bl
    )
    assert report["input_docs"] == 5
    assert report["after_host_blocklist"] == 3  # both spam.biz docs gone
    assert report["after_c4_clean"] == 2  # lorem page gone
    assert (
        report["after_host_blocklist"]
        >= report["after_c4_clean"]
        >= report["after_quality_filter"]
        >= report["after_exact_dedup"]
    )
    # junk lines were stripped in place before token counting: doc 2's
    # cleaned page equals doc 1's, so exact dedup collapses them
    assert report["after_exact_dedup"] == 1


def test_fuzzy_value_pairs_blocked_levenshtein(spark):
    """Distinct-domain blocked edit-distance matching: misspellings of
    the same value pair up inside their block, cross-block pairs are
    never compared, and group sizes/representatives are exact."""
    from pyspark.sql import Row, functions as F

    from mongo2mysql_spark.operators.dedup import fuzzy_value_pairs

    rows = [
        Row(id=1, name="golden ring"),
        Row(id=2, name="golden ring"),   # same value -> one group of 2
        Row(id=3, name="goldan ring"),   # 1 edit away, same block (ring)
        Row(id=4, name="golden rang"),   # different block (rang): never paired
        Row(id=5, name="purple ring"),   # 5 edits away: beyond max_dist
    ]
    df = spark.createDataFrame(rows)
    out = fuzzy_value_pairs(
        df, "id", "name", F.element_at(F.split(F.col("name"), " "), 2), max_dist=2
    ).collect()
    assert len(out) == 1
    p = out[0]
    assert (p.id_1, p.id_2, p.dist) == (1, 3, 1)
    assert (p.n_rows_1, p.n_rows_2) == (2, 1)


def test_group_hash_split_leakage_guard(spark):
    """Group-aware split: every row of a group gets the group's label
    (no train/test straddle), and with the same salt a group's label
    equals what hash_split would assign its key directly."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.sampling import group_hash_split, hash_split

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("host"), (F.col("id") % 37).cast("string")).alias("host"),
    )
    labeled = df.select(
        "host", group_hash_split(F.col("host")).alias("s")
    )
    per_group = labeled.groupBy("host").agg(
        F.countDistinct("s").alias("n"), F.min("s").alias("s")
    )
    assert per_group.filter("n != 1").count() == 0
    direct = {
        r.host: r.s
        for r in df.select("host").distinct()
        .select("host", hash_split(F.col("host")).alias("s")).collect()
    }
    for r in per_group.collect():
        assert direct[r.host] == r.s
    # 37 groups actually spread over the three splits
    splits = {r.s for r in per_group.collect()}
    assert splits == {"train", "val", "test"}


def test_luhn_card_detection_and_redaction(spark):
    """Luhn validation separates real card numbers from card-shaped
    runs; <CARD> redaction is shape-based and ordered before <NUM>;
    Spark and DuckDB agree on the validator."""
    import duckdb
    from pyspark.sql import functions as F

    from mongo2mysql_spark.functions.text import (
        count_valid_cards,
        luhn_valid,
        redact_pii,
        sql_luhn,
    )

    cases = {
        "4111111111111111": True,   # classic Visa test number
        "4111111111111112": False,  # off-by-one check digit
        "79927398713": True,        # the textbook Luhn example
        "79927398710": False,
        "5555555555554444": True,
    }
    df = spark.createDataFrame([(k,) for k in cases], "s string")
    got = {r.s: r.ok for r in df.select("s", luhn_valid(F.col("s")).alias("ok")).collect()}
    assert got == cases
    con = duckdb.connect()
    for s, want in cases.items():
        assert (
            con.execute(
                f"SELECT {sql_luhn('s')} FROM (SELECT ? AS s)", [s]
            ).fetchone()[0]
            == want
        )

    text = "pay 4111111111111111 not 4111111111111112 id 123456 x"
    tdf = spark.createDataFrame([(text,)], "t string")
    row = tdf.select(
        count_valid_cards(F.col("t")).alias("n"),
        redact_pii(F.col("t")).alias("red"),
    ).collect()[0]
    assert row.n == 1  # only the Luhn-valid run counts
    assert row.red == "pay <CARD> not <CARD> id <NUM> x"


def test_gopher_quality_flags(spark):
    """Each Gopher rule (Rae et al. 2021 A1.1) fires on a document
    crafted to violate exactly it, and a normal document passes all."""
    from pyspark.sql import Row, functions as F

    from mongo2mysql_spark.functions.text import gopher_flags, tokens

    good = " ".join(
        "the quick brown fox jumps over lazy dogs with grace and vigor".split()
        * 6
    )  # 72 words, all alphabetic, mean len ~4, two+ stopwords
    rows = [
        Row(k="good", text=good),
        Row(k="short", text="only five words right here"),
        Row(k="longsyms", text=" ".join(["###"] * 60)),
        Row(k="numeric", text=" ".join(str(i) for i in range(60))),
        Row(k="nostop", text=" ".join(f"w{i}" for i in range(60))),
        Row(k="bullets", text="\n".join(f"- item {i} of the and" for i in range(10))),
        Row(k="dots", text="\n".join(f"trailing {i} of the and..." for i in range(10))),
    ]
    df = spark.createDataFrame(rows)
    t = tokens(F.col("text"))
    flags = gopher_flags(t, F.col("text"))
    out = {
        r.k: r
        for r in df.select("k", *[c.alias(n) for n, c in flags.items()]).collect()
    }
    assert all(getattr(out["good"], g) for g in
               ("g_words", "g_mean_len", "g_symbol", "g_alpha", "g_stop",
                "g_bullet", "g_ellipsis"))
    assert not out["short"].g_words
    assert not out["longsyms"].g_symbol and not out["longsyms"].g_alpha
    assert not out["numeric"].g_alpha
    assert not out["nostop"].g_stop
    assert not out["bullets"].g_bullet  # 100% bullet lines > 90%
    assert not out["dots"].g_ellipsis   # 100% ellipsis lines > 30%
    assert out["bullets"].g_ellipsis and out["dots"].g_bullet


def test_contrastive_triplet_mining(spark):
    """Triplet mining: a planted near-clone becomes its anchor's
    positive, the hard negative sits at or below the negative band,
    the guard band is respected, and triplets only come from sampled
    anchors."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.contrastive import mine_contrastive_triplets
    from mongo2mysql_spark.operators.sampling import hash_sample_flag
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    # plant a near-identical clone of every 10th vector (clone id offset
    # into its own range so it is never itself sampled as an anchor)
    clones = e.filter("vec_id % 10 = 0").select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.0001).alias("embedding"),
    )
    corpus = e.unionByName(clones)

    trips = mine_contrastive_triplets(
        corpus,
        anchor_frac=0.3,
        k=8,
        pos_min_cos=0.95,
        neg_max_cos=0.8,
        nprobe=4,
    ).collect()
    assert len(trips) > 0
    anchor_ids = {
        r.vec_id
        for r in corpus.filter(
            hash_sample_flag(F.col("vec_id"), 0.3, salt="anchors") == 1
        ).collect()
    }
    for t in trips:
        assert t.anchor_id in anchor_ids
        assert t.pos_cos >= 0.95 and t.neg_cos <= 0.8  # guard band holds
        assert t.positive_id != t.anchor_id and t.negative_id != t.anchor_id
    # planted clones: a sampled base vector with its clone retrieved must
    # pair with it (cosine ~1 > 0.95)
    by_anchor = {t.anchor_id: t for t in trips}
    clone_hits = [
        t for a, t in by_anchor.items()
        if a % 10 == 0 and a < 1_000_000 and t.positive_id == a + 1_000_000
    ]
    assert len(clone_hits) > 0

    # the guard band must be enforced at the API level
    import pytest

    with pytest.raises(ValueError):
        mine_contrastive_triplets(corpus, pos_min_cos=0.5, neg_max_cos=0.8)


def test_multimodal_patchify_geometry(spark):
    """Patchify row expansion: full-grid count, preview cap, edge-patch
    truncation, deterministic patch stats, and the real-mode seam."""
    import math

    from mongo2mysql_spark.operators.multimodal import (
        decode_metadata,
        patchify_images,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").limit(10)
    pf = payload_frame(
        d, F.col("doc_id"), F.encode(F.col("text"), "UTF-8"), F.lit("text/plain")
    )
    decoded = decode_metadata(pf, mode="fake")
    meta = {r["media_id"]: r for r in decoded.collect()}
    rows = patchify_images(decoded, patch=16, preview=4).collect()
    by_media: dict = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    assert set(by_media) == set(meta)
    for mid, prs in by_media.items():
        w, h = meta[mid]["width"], meta[mid]["height"]
        nx, ny = math.ceil(w / 16), math.ceil(h / 16)
        # n_patches reports the FULL grid; emitted rows are the preview cap
        assert all(r["n_patches"] == nx * ny for r in prs)
        assert len(prs) == min(nx, 4) * min(ny, 4)
        for r in prs:
            assert r["patch_w"] == min(16, w - r["patch_ix"] * 16)
            assert r["patch_h"] == min(16, h - r["patch_iy"] * 16)
            assert 0 < r["patch_w"] <= 16 and 0 < r["patch_h"] <= 16
            assert 0 <= r["patch_mean"] <= 255
    # deterministic across runs
    again = sorted(
        (r["media_id"], r["patch_ix"], r["patch_iy"], r["patch_mean"])
        for r in patchify_images(decoded, patch=16, preview=4).collect()
    )
    assert again == sorted(
        (r["media_id"], r["patch_ix"], r["patch_iy"], r["patch_mean"]) for r in rows
    )
    with pytest.raises(NotImplementedError):
        patchify_images(decoded, mode="real")


@pytest.mark.slow
def test_bench_branch_map_matches_served_tags(spark):
    """bench.BRANCHED must list real (tag column, branch values) for
    every slot it attributes — a stale entry silently times an empty
    filter and reads as a free branch."""
    import sys

    sys.path.insert(0, "/root/repo")
    from bench import BRANCHED
    from mongo2mysql_spark.queries import load_all
    from tests.conftest import SF_DIR

    registry = load_all()
    for slot, (tag, branches) in BRANCHED.items():
        df = registry[slot].fn(spark, SF_DIR)
        assert tag in df.columns, f"{slot}: tag column {tag!r} missing"
        served = {
            r[0] for r in df.select(tag).distinct().collect()
        }
        missing = set(branches) - served
        assert not missing, f"{slot}: branches never served: {missing}"
        spark.catalog.clearCache()


def test_curriculum_interleave_total_order(spark):
    """Positions are unique (total order), the first D positions are
    each domain's rank-0 (highest-score) doc, within-domain order is
    score desc with id tiebreak, and the plan never funnels the corpus
    into a single partition."""
    from mongo2mysql_spark.operators.curriculum import curriculum_interleave

    rows = [
        (i, f"dom{i % 3}", float((i * 7) % 10) / 10.0) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, dom string, s double")
    out = curriculum_interleave(df, "dom", "doc_id", F.col("s")).collect()
    assert len({r.interleave_pos for r in out}) == len(out)
    first = {
        r.dom: r.doc_id
        for r in sorted(out, key=lambda r: r.interleave_pos)[:3]
    }
    by_dom: dict = {}
    for i, dom, s in rows:
        by_dom.setdefault(dom, []).append((-s, i))
    for dom, members in by_dom.items():
        assert first[dom] == sorted(members)[0][1]
    # within-domain rank follows (score desc, id asc)
    ranks = {
        (r.dom, r.intra_rank): r.doc_id for r in out
    }
    for dom, members in by_dom.items():
        for rank, (_, i) in enumerate(sorted(members)):
            assert ranks[(dom, rank)] == i
    # determinism + no single-partition funnel
    again = curriculum_interleave(df, "dom", "doc_id", F.col("s")).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    plan = (
        curriculum_interleave(df, "dom", "doc_id", F.col("s"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange SinglePartition" not in plan


def test_length_buckets_ladder_and_waste(spark):
    """Bucket = smallest power-of-two ≥ n (clamped), padding waste
    exact, overflow only above max_len, assignment is a shuffle-free
    narrow plan."""
    from mongo2mysql_spark.operators.packing import (
        length_buckets,
        sql_length_buckets,
    )

    rows = [(i, n) for i, n in enumerate([0, 1, 16, 17, 100, 512, 513, 5000])]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    got = {
        r.doc_id: (r.bucket_len, r.pad_tokens, r.overflow)
        for r in length_buckets(df, "n_tokens", "doc_id", 512).collect()
    }
    assert got == {
        0: (16, 16, False),     # 0 tokens pads a whole min bucket
        1: (16, 15, False),
        2: (16, 0, False),      # exact fit
        3: (32, 15, False),
        4: (128, 28, False),
        5: (512, 0, False),
        6: (512, 0, True),      # truncated to max_len
        7: (512, 0, True),
    }
    # DuckDB mirror agrees threshold-for-threshold
    import duckdb

    mirror = duckdb.sql(
        f"SELECT {sql_length_buckets('n', 512)} FROM (VALUES (0),(1),(16),"
        "(17),(100),(512),(513),(5000)) v(n) ORDER BY n"
    ).fetchall()
    assert [m[0] for m in mirror] == [16, 16, 16, 32, 128, 512, 512, 512]
    # narrow plan: no Exchange
    plan = (
        length_buckets(df, "n_tokens", "doc_id", 512)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_multimodal_audio_framing_geometry(spark):
    """frame_audio row expansion: librosa center=False window count,
    window coverage, preview cap, Python-reference RMS parity, and the
    real-mode seam."""
    import hashlib

    from mongo2mysql_spark.operators.multimodal import (
        decode_metadata,
        frame_audio,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").limit(10)
    pf = payload_frame(
        d, F.col("doc_id"), F.encode(F.col("text"), "UTF-8"), F.lit("audio/wav")
    )
    decoded = decode_metadata(pf, mode="fake")
    meta = {r["media_id"]: r for r in decoded.collect()}
    rows = frame_audio(decoded, frame_len=400, hop=160, preview=6).collect()
    by_media: dict = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    # fake clip length always >= 1000 >= frame_len, so every clip frames
    assert set(by_media) == set(meta)
    for mid, frs in by_media.items():
        chk = meta[mid]["checksum"]
        n = 1000 + (int(chk[12:16], 16) % 100000)
        nw = 1 + (n - 400) // 160
        assert all(r["n_samples"] == n and r["n_windows"] == nw for r in frs)
        assert len(frs) == min(nw, 6)
        for r in frs:
            assert r["start_sample"] == r["frame_idx"] * 160
            assert r["end_sample"] == r["start_sample"] + 400
            assert r["end_sample"] <= n  # center=False never overruns
            ref = int(
                hashlib.sha256(f"{chk}:{r['frame_idx']}".encode()).hexdigest()[
                    :4
                ],
                16,
            ) % 32768
            assert r["frame_rms"] == ref
    # a clip shorter than one frame yields zero windows (the fake
    # n_samples ceiling is 100999, so frame_len=200k drops every clip)
    assert frame_audio(decoded, frame_len=200_000, hop=160).count() == 0
    with pytest.raises(NotImplementedError):
        frame_audio(decoded, mode="real")


def test_builder_c4_word_blocklist_passthrough(spark, tmp_path):
    """CorpusConfig.c4_word_blocklist reaches the builder's c4 stage:
    a planted bad-word page is dropped, its clean twin survives."""
    from mongo2mysql_spark.pipelines import CorpusConfig, build_training_corpus

    line = "This sentence has plenty of words and ends properly."
    page = "\n".join([line] * 6)
    bad = page + "\nWhat an ass he made of himself at the meeting there."
    rows = [(i, page if i % 2 else bad) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    rep = build_training_corpus(
        docs,
        str(tmp_path / "out"),
        config=CorpusConfig(
            c4_line_clean=True,
            c4_word_blocklist=("ass",),
            min_tokens=5,
            n_shards=2,
        ),
    )
    assert rep["after_c4_clean"] == 20  # the 20 clean twins
    rep2 = build_training_corpus(
        docs,
        str(tmp_path / "out2"),
        config=CorpusConfig(c4_line_clean=True, min_tokens=5, n_shards=2),
    )
    assert rep2["after_c4_clean"] == 40  # no blocklist: everyone survives


def test_curriculum_interleave_edge_inputs(spark):
    """Empty input returns an empty frame with the contract schema
    (no-arg coalesce crash, ADVICE r6); NULL domains sort FIRST and get
    a real domain_ix instead of a Python sorted() TypeError."""
    from mongo2mysql_spark.operators.curriculum import curriculum_interleave

    empty = spark.createDataFrame([], "doc_id long, dom string, s double")
    out = curriculum_interleave(empty, "dom", "doc_id", F.col("s"))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "dom", "domain_ix", "intra_rank", "interleave_pos",
    ]

    rows = [(0, None, 0.9), (1, "a", 0.5), (2, None, 0.1), (3, "b", 0.7)]
    df = spark.createDataFrame(rows, "doc_id long, dom string, s double")
    got = curriculum_interleave(df, "dom", "doc_id", F.col("s")).collect()
    ix = {r.doc_id: r.domain_ix for r in got}
    # NULL domain is index 0, then sorted real domains
    assert ix == {0: 0, 2: 0, 1: 1, 3: 2}
    pos = {r.doc_id: r.interleave_pos for r in got}
    # rank-0 of each domain occupies positions 0..D-1
    assert {pos[0], pos[1], pos[3]} == {0, 1, 2}
    assert pos[2] == 3  # NULL-domain rank 1 → 1·3 + 0


def test_lsh_incremental_respects_caller_cache(spark):
    """lsh_incremental_pairs must not unpersist a signature frame the
    CALLER cached (ownership guard, ADVICE r6) — and must still release
    its own persists."""
    from pyspark.storagelevel import StorageLevel

    from mongo2mysql_spark.operators.dedup import (
        lsh_incremental_pairs,
        minhash_signature,
    )

    docs = spark.createDataFrame(
        [(i, f"common shingle text body number {i % 4} woo") for i in range(40)],
        "doc_id long, text string",
    )
    shingles = F.split(F.col("text"), " ")
    corpus_sig = minhash_signature(
        docs.filter(F.col("doc_id") < 30), "doc_id", shingles, k=16
    )
    new_sig = minhash_signature(
        docs.filter(F.col("doc_id") >= 30), "doc_id", shingles, k=16
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        new_sig.count()
        out = lsh_incremental_pairs(corpus_sig, new_sig, "doc_id", k=16)
        out.count()
        # caller's cache must survive the call (and not have been
        # re-persisted at a different level, which would have raised)
        assert new_sig.storageLevel == StorageLevel.MEMORY_AND_DISK
    finally:
        new_sig.unpersist()


def test_phrase_search_positional_semantics(spark):
    """operators/phrase: exact adjacency (not bag-of-words), occurrence
    counting, multi-term chains, and the deterministic top-k cut."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.functions.text import tokens
    from mongo2mysql_spark.operators.phrase import phrase_match_counts

    df = spark.createDataFrame(
        [
            (1, "new york new york city"),        # 2 hits of 'new york'
            (2, "york new"),                       # both terms, wrong order
            (3, "new haven york"),                 # both terms, not adjacent
            (4, "a new york b"),                   # 1 hit
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: r.n_hits
        for r in phrase_match_counts(
            df, "doc_id", tokens(F.col("text")), ["new", "york"], k=10
        ).collect()
    }
    assert got == {1: 2, 4: 1}
    tri = {
        r.doc_id: r.n_hits
        for r in phrase_match_counts(
            df, "doc_id", tokens(F.col("text")), ["new", "york", "city"], k=10
        ).collect()
    }
    assert tri == {1: 1}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        phrase_match_counts(df, "doc_id", tokens(F.col("text")), [], k=5)
