"""Text-analysis + multimodal queries (extension layer)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo2mysql_spark.artifacts import artifact
from mongo2mysql_spark.functions.scalar import sql_dsum
from mongo2mysql_spark.functions.text import (
    BPE_SPLIT_PATTERN,
    STOPWORDS,
    bpe_tokens,
    lang_guess,
    mean_token_length,
    quality_score,
    stopword_ratio,
    tokens,
)
from mongo2mysql_spark.operators.collocations import dice_collocations_sql
from mongo2mysql_spark.operators.keyness import keyness_sql
from mongo2mysql_spark.operators.novelty import (
    heaps_growth_sql,
    ngram_novelty_sql,
)
from mongo2mysql_spark.operators.passages import exact_dup_spans_sql
from mongo2mysql_spark.operators.postings import posting_compression_sql
from mongo2mysql_spark.operators.multimodal import decode_metadata, payload_frame
from mongo2mysql_spark.queries import register
from mongo2mysql_spark.queries.domains import domains_oracle_ctes
from mongo2mysql_spark.sources import load_table as T


def sql_quality(t: str = "t", text: str = "text") -> str:
    """DuckDB mirror of functions/text.quality_score (shared by the
    standalone quality query and the corpus pipeline oracle)."""
    return f"""ROUND(LEAST(GREATEST(
             0.5 * LEAST(len({t}) / 100.0, 1.0)
             + 0.5 * (CAST(len(list_distinct({t})) AS DOUBLE) / GREATEST(len({t}), 1))
             - (CAST(length(regexp_replace({text}, '[^[:punct:]]', '', 'g')) AS DOUBLE)
                / GREATEST(length({text}), 1)),
             0.0), 1.0), 6)"""


def _sql_lang_hits(lang: str, t: str = "t") -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({t}, x -> list_contains([{words}], x)))"


def sql_lang_guess(t: str = "t") -> str:
    """DuckDB mirror of functions/text.lang_guess."""
    structs = ", ".join(
        f"{{'a': -{_sql_lang_hits(lang, t)}, 'l': '{lang}'}}" for lang in sorted(STOPWORDS)
    )
    return f"list_sort([{structs}])[1].l"


def _gopher_sql() -> str:
    """DuckDB restatement of functions/text.gopher_flags (defaults) over
    the (doc_id, lang, text, t) profile subquery."""
    from mongo2mysql_spark.functions.text import GOPHER_STOPWORDS

    stop_list = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    mean_len = (
        "(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)"
        " / GREATEST(len(t), 1))"
    )
    nd = "CAST(GREATEST(len(t), 1) AS DOUBLE)"
    symbols = (
        "((length(text) - length(replace(text, '#', '')))"
        " + (length(text) - length(replace(text, '...', ''))) / 3)"
    )
    lines = "string_split(text, chr(10))"
    nl = f"CAST(GREATEST(len({lines}), 1) AS DOUBLE)"
    flags = {
        "g_words": "len(t) BETWEEN 50 AND 100000",
        "g_mean_len": f"{mean_len} BETWEEN 3.0 AND 10.0",
        "g_symbol": f"({symbols} / {nd}) <= 0.1",
        "g_alpha": (
            "(CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))"
            f" AS DOUBLE) / {nd}) >= 0.8"
        ),
        # min_stopwords=1 here (not the published 2): the synthetic
        # vocabulary carries only 'the' from Gopher's list, so the
        # driver row needs the lower threshold to have discriminating
        # signal (76% of docs pass at 1; 0% would pass at 2)
        "g_stop": (
            f"len(list_intersect(list_distinct(t), [{stop_list}])) >= 1"
        ),
        "g_bullet": (
            f"(CAST(len(list_filter({lines}, l -> substring(ltrim(l), 1, 1)"
            f" IN ('•', '-', '*'))) AS DOUBLE) / {nl}) <= 0.9"
        ),
        "g_ellipsis": (
            f"(CAST(len(list_filter({lines}, l -> ends_with(rtrim(l), '...')"
            f" OR ends_with(rtrim(l), '…'))) AS DOUBLE) / {nl}) <= 0.3"
        ),
    }
    parts = [f"({sql}) AS {name}" for name, sql in flags.items()]
    conj = " AND ".join(f"({sql})" for sql in flags.values())
    parts.append(f"({conj}) AS g_keep")
    return ",\n           ".join(parts)


def _profile_sql() -> str:
    ratios = ",\n           ".join(
        f"CAST({_sql_lang_hits(lang)} AS DOUBLE) / GREATEST(len(t), 1) AS ratio_{lang}"
        for lang in sorted(STOPWORDS)
    )
    # RE2 mirrors the Java pattern verbatim (BPE_SPLIT_PATTERN is
    # written in the shared subset; DuckDB single-quoted strings keep
    # backslashes literal).
    bpe = BPE_SPLIT_PATTERN.replace("'", "''")
    return f"""
    SELECT doc_id, lang,
           CAST(len(t) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{bpe}')) AS INTEGER) AS n_bpe_tokens,
           CAST(len(list_distinct(t)) AS INTEGER) AS n_unique,
           CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) AS mean_token_len,
           CAST(length(text) AS INTEGER) AS n_chars_actual,
           {sql_quality()} AS quality,
           {ratios},
           {sql_lang_guess()} AS lang_guess,
           {_gopher_sql()}
    FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents)
    """


def _text_profile_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.functions.text import gopher_flags, gopher_keep

    d = T(spark, sf_dir, "documents", fanout=True)
    t = tokens(F.col("text"))
    flags = gopher_flags(t, F.col("text"), min_stopwords=1)
    return d.select(
        "doc_id",
        "lang",
        F.size(t).alias("n_tokens"),
        F.size(bpe_tokens(F.col("text"))).alias("n_bpe_tokens"),
        F.size(F.array_distinct(t)).alias("n_unique"),
        mean_token_length(t).alias("mean_token_len"),
        F.length("text").alias("n_chars_actual"),
        quality_score(t, F.col("text")).alias("quality"),
        *[stopword_ratio(t, lang).alias(f"ratio_{lang}") for lang in sorted(STOPWORDS)],
        lang_guess(t).alias("lang_guess"),
        *[c.alias(name) for name, c in flags.items()],
        gopher_keep(t, F.col("text"), min_stopwords=1).alias("g_keep"),
    )


# collocations branch (operators/collocations): thresholds sized so the
# near-uniform synthetic vocabulary still yields a stable associated
# tail (~400 pairs) at every gate SF
_COLL_MIN_PAIR, _COLL_NUM, _COLL_DEN = 5, 1, 30
# novelty/heaps branches (operators/novelty.py)
_NOVELTY_N = 3
_HEAPS_CHECKPOINTS = 10
# postings branch (operators/postings.py): segmented build, 64-id
# shards — window partitions bounded by the span, never by a term's df
_POSTINGS_K = 30
_POSTINGS_SHARD_SPAN = 64


@register(
    "text_term_frequency",
    f"""
    WITH {domains_oracle_ctes()},
    {keyness_sql("documents", "lang", "string_split(text, ' ')",
                 min_count=5, min_ratio=3, k=10)},
    {dice_collocations_sql("documents", "string_split(text, ' ')",
                           _COLL_MIN_PAIR, _COLL_NUM, _COLL_DEN)},
    {ngram_novelty_sql("documents", "doc_id", "string_split(text, ' ')",
                       n=_NOVELTY_N)},
    {heaps_growth_sql("documents", "doc_id", "string_split(text, ' ')",
                      checkpoints=_HEAPS_CHECKPOINTS)},
    tftop AS (
      SELECT token, n FROM (
        SELECT tok AS token, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY 1)
      ORDER BY n DESC, token
      LIMIT 50)
    SELECT 'tf' AS branch, token, n,
           CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS BIGINT) AS domain,
           CAST(NULL AS DOUBLE) AS d2,
           CAST(NULL AS DOUBLE) AS share,
           CAST(NULL AS VARCHAR) AS label,
           CAST(NULL AS BIGINT) AS n_rest,
           CAST(NULL AS DOUBLE) AS keyness,
           CAST(NULL AS INTEGER) AS rank,
           CAST(NULL AS VARCHAR) AS w1, CAST(NULL AS VARCHAR) AS w2,
           CAST(NULL AS BIGINT) AS n_xy, CAST(NULL AS BIGINT) AS n_x,
           CAST(NULL AS BIGINT) AS n_y, CAST(NULL AS DOUBLE) AS dice,
           CAST(NULL AS BIGINT) AS n_novel,
           CAST(NULL AS DOUBLE) AS novelty,
           CAST(NULL AS BIGINT) AS vocab
    FROM tftop
    UNION ALL
    SELECT 'domains' AS branch, CAST(NULL AS VARCHAR) AS token,
           CAST(NULL AS BIGINT) AS n,
           id AS doc_id, domain, d2,
           CAST(NULL AS DOUBLE) AS share,
           CAST(NULL AS VARCHAR) AS label,
           CAST(NULL AS BIGINT) AS n_rest,
           CAST(NULL AS DOUBLE) AS keyness,
           CAST(NULL AS INTEGER) AS rank,
           CAST(NULL AS VARCHAR) AS w1, CAST(NULL AS VARCHAR) AS w2,
           CAST(NULL AS BIGINT) AS n_xy, CAST(NULL AS BIGINT) AS n_x,
           CAST(NULL AS BIGINT) AS n_y, CAST(NULL AS DOUBLE) AS dice,
           CAST(NULL AS BIGINT) AS n_novel,
           CAST(NULL AS DOUBLE) AS novelty,
           CAST(NULL AS BIGINT) AS vocab
    FROM ddomains
    UNION ALL
    SELECT 'domainsizes' AS branch, CAST(NULL AS VARCHAR) AS token,
           n_docs AS n,
           CAST(NULL AS BIGINT) AS doc_id, domain,
           CAST(NULL AS DOUBLE) AS d2, share,
           CAST(NULL AS VARCHAR) AS label,
           CAST(NULL AS BIGINT) AS n_rest,
           CAST(NULL AS DOUBLE) AS keyness,
           CAST(NULL AS INTEGER) AS rank,
           CAST(NULL AS VARCHAR) AS w1, CAST(NULL AS VARCHAR) AS w2,
           CAST(NULL AS BIGINT) AS n_xy, CAST(NULL AS BIGINT) AS n_x,
           CAST(NULL AS BIGINT) AS n_y, CAST(NULL AS DOUBLE) AS dice,
           CAST(NULL AS BIGINT) AS n_novel,
           CAST(NULL AS DOUBLE) AS novelty,
           CAST(NULL AS BIGINT) AS vocab
    FROM dsizes
    UNION ALL
    SELECT 'keyness' AS branch, token, n,
           CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS BIGINT) AS domain,
           CAST(NULL AS DOUBLE) AS d2,
           CAST(NULL AS DOUBLE) AS share,
           label, n_rest, keyness, rank,
           CAST(NULL AS VARCHAR) AS w1, CAST(NULL AS VARCHAR) AS w2,
           CAST(NULL AS BIGINT) AS n_xy, CAST(NULL AS BIGINT) AS n_x,
           CAST(NULL AS BIGINT) AS n_y, CAST(NULL AS DOUBLE) AS dice,
           CAST(NULL AS BIGINT) AS n_novel,
           CAST(NULL AS DOUBLE) AS novelty,
           CAST(NULL AS BIGINT) AS vocab
    FROM keytop
    UNION ALL
    SELECT 'collocations' AS branch, CAST(NULL AS VARCHAR) AS token,
           CAST(NULL AS BIGINT) AS n,
           CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS BIGINT) AS domain,
           CAST(NULL AS DOUBLE) AS d2,
           CAST(NULL AS DOUBLE) AS share,
           CAST(NULL AS VARCHAR) AS label,
           CAST(NULL AS BIGINT) AS n_rest,
           CAST(NULL AS DOUBLE) AS keyness,
           CAST(NULL AS INTEGER) AS rank,
           w1, w2, n_xy, n_x, n_y, dice,
           CAST(NULL AS BIGINT) AS n_novel,
           CAST(NULL AS DOUBLE) AS novelty,
           CAST(NULL AS BIGINT) AS vocab
    FROM colloc
    UNION ALL
    SELECT 'novelty' AS branch, CAST(NULL AS VARCHAR) AS token,
           n_grams AS n,
           id AS doc_id,
           CAST(NULL AS BIGINT) AS domain,
           CAST(NULL AS DOUBLE) AS d2,
           CAST(NULL AS DOUBLE) AS share,
           CAST(NULL AS VARCHAR) AS label,
           CAST(NULL AS BIGINT) AS n_rest,
           CAST(NULL AS DOUBLE) AS keyness,
           CAST(NULL AS INTEGER) AS rank,
           CAST(NULL AS VARCHAR) AS w1, CAST(NULL AS VARCHAR) AS w2,
           CAST(NULL AS BIGINT) AS n_xy, CAST(NULL AS BIGINT) AS n_x,
           CAST(NULL AS BIGINT) AS n_y, CAST(NULL AS DOUBLE) AS dice,
           n_novel, novelty,
           CAST(NULL AS BIGINT) AS vocab
    FROM nvout
    UNION ALL
    SELECT 'heaps' AS branch, CAST(NULL AS VARCHAR) AS token,
           tokens_seen AS n,
           id_max AS doc_id,
           CAST(NULL AS BIGINT) AS domain,
           CAST(NULL AS DOUBLE) AS d2,
           CAST(NULL AS DOUBLE) AS share,
           CAST(NULL AS VARCHAR) AS label,
           CAST(NULL AS BIGINT) AS n_rest,
           CAST(NULL AS DOUBLE) AS keyness,
           checkpoint AS rank,
           CAST(NULL AS VARCHAR) AS w1, CAST(NULL AS VARCHAR) AS w2,
           CAST(NULL AS BIGINT) AS n_xy, CAST(NULL AS BIGINT) AS n_x,
           CAST(NULL AS BIGINT) AS n_y, CAST(NULL AS DOUBLE) AS dice,
           CAST(NULL AS BIGINT) AS n_novel,
           CAST(NULL AS DOUBLE) AS novelty,
           vocab
    FROM hpout
    """,
    doc=(
        "text-statistics family, tagged.  'tf' rows: global term "
        "frequency (top 50, deterministic tiebreak).  'domains' rows: "
        "UNSUPERVISED DOMAIN DISCOVERY (operators/domains.py — the "
        "cluster-then-balance recipe of pretraining-data mixing): "
        "hashed unigram+bigram term frequencies densified to integer "
        "PERMILLE profiles (length-normalized AND order-free-exact), "
        "k-means from deterministic stride seeds with one exact Lloyd "
        "round (integer cluster sums, one IEEE division per centroid "
        "cell), every per-document assignment and d² hashed against "
        "the full SQL restatement of the clustering chain.  "
        "'domainsizes' rows: per-domain doc counts + shares — the "
        "direct input of the mixing stages (UniMax waterfill, "
        "temperature sampling).  'keyness' rows: distinctive terms per "
        "language label (operators/keyness — the corpus-linguistics "
        "keyness readout in its ratio form: in-label token rate over "
        "smoothed rest-of-corpus rate; selection and ordering are "
        "exact integer cross-multiplications, the reported score one "
        "IEEE division, top-k per label salted).  'collocations' rows: "
        "adjacent-token collocation extraction (operators/collocations "
        "— the MWE/phrase-mining readout in Dice form, PMI's ln being "
        "barred from hash-gated columns): bigrams via transform("
        "sequence) with 1-based element_at on BOTH engines, integer "
        "cross-multiplied dice qualification, the served dice one IEEE "
        "division of exact integers.  'novelty' rows: per-document "
        "n-gram novelty (operators/novelty.ngram_novelty) — the "
        "fraction of a doc's distinct trigrams first seen HERE by "
        "min-id order; the templated-boilerplate readout MinHash "
        "family dedup misses (no single near-dup twin), one gram-keyed "
        "min(id) aggregate + one join back, short docs (0, 0, NULL).  "
        "'heaps' rows: Heaps-law vocabulary growth "
        "(operators/novelty.heaps_growth) — vocab and token totals at "
        "10 id-domain checkpoints (integer-DIV thresholds: a double "
        "divide + BIGINT cast rounds in DuckDB but truncates in "
        "Spark); the V(N) flattening that says a source is mined out."
    ),
)
def text_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.collocations import dice_collocations
    from mongo2mysql_spark.operators.keyness import keyness_terms
    from mongo2mysql_spark.queries import tagged_union
    from mongo2mysql_spark.queries.domains import domains_branches

    d = T(spark, sf_dir, "documents", fanout=True)
    # ONE tokenize+explode pass feeds both the tf and keyness legs: the
    # (label, token, n) aggregate is vocab×langs-bounded, so an eager
    # checkpoint is cheap and the tf counts fall out of it exactly
    # (sum over labels of per-label counts == count over all docs).
    cnt = (
        d.select(
            F.col("lang").alias("label"),
            F.explode(tokens(F.col("text"))).alias("token"),
        )
        .groupBy("label", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    tf = (
        cnt.groupBy("token")
        .agg(F.sum("n").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(50)
    )
    key = keyness_terms(
        d, "lang", tokens(F.col("text")), min_count=5, min_ratio=3, k=10,
        counts=cnt,
    )
    coll = dice_collocations(
        d, tokens(F.col("text")), min_pair=_COLL_MIN_PAIR,
        min_dice_num=_COLL_NUM, min_dice_den=_COLL_DEN,
    )
    # redundancy-growth readouts (operators/novelty.py): per-doc
    # n-gram novelty (what MinHash dedup misses — templated text with
    # no single near-dup twin) and the Heaps-law vocabulary curve —
    # doc-bounded build-once artifacts (pass 1 pays the gram shuffle,
    # later materializations serve the checkpoints)
    from mongo2mysql_spark.operators.novelty import (
        heaps_growth,
        ngram_novelty,
    )

    def build_tfx() -> tuple:
        nov_ = ngram_novelty(
            d, "doc_id", tokens(F.col("text")), n=_NOVELTY_N
        ).select(
            F.col("id").alias("doc_id"),
            F.col("n_grams").alias("n"),
            "n_novel",
            "novelty",
        ).localCheckpoint()
        hp_ = heaps_growth(
            d, "doc_id", tokens(F.col("text")),
            checkpoints=_HEAPS_CHECKPOINTS,
        ).select(
            F.col("checkpoint").alias("rank"),
            F.col("id_max").alias("doc_id"),
            F.col("tokens_seen").alias("n"),
            "vocab",
        ).localCheckpoint()
        return nov_, hp_

    nov, hp = artifact("text.novelty_heaps", spark, sf_dir, build_tfx)
    return tagged_union(
        {
            "tf": tf,
            **domains_branches(spark, sf_dir, d),
            "keyness": key,
            "collocations": coll,
            "novelty": nov,
            "heaps": hp,
        }
    )


# ------------------------------------------------------------------ search

QUERY_TERMS = ("spark", "hash", "join")
PHRASE = ("table", "hash")  # a real bigram of the corpus (top-10 by count)
PHRASE_K = 20
_BM25_K1 = 1.2
_BM25_B = 0.75
# RRF hybrid-retrieval branch (operators/fusion.py): fuse the BM25 leg
# with a dense cosine leg (query = embedding of vec RRF_QUERY_VEC,
# standing in for an encoded query), top-RRF_DEPTH per leg, k=RRF_K.
RRF_DEPTH = 50
RRF_K = 60
RRF_QUERY_VEC = 0


def _rrf_oracle() -> str:
    from mongo2mysql_spark.functions.vector import sql_dot, sql_norm
    from mongo2mysql_spark.operators.fusion import sql_rrf_term

    cos = (
        f"ROUND({sql_dot('e.embedding', 'q.qv')} / "
        f"({sql_norm('e.embedding')} * {sql_norm('q.qv')}), 6)"
    )
    return f"""
    bmleg AS (
      SELECT doc_id, rnk AS bm25_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
        FROM bmall)
      WHERE rnk <= {RRF_DEPTH}),
    denseleg AS (
      SELECT doc_id, rnk AS cos_rank FROM (
        SELECT e.vec_id AS doc_id,
               row_number() OVER (ORDER BY {cos} DESC, e.vec_id) AS rnk
        FROM embeddings e
        CROSS JOIN (SELECT embedding AS qv FROM embeddings
                    WHERE vec_id = {RRF_QUERY_VEC}) q)
      WHERE rnk <= {RRF_DEPTH}),
    fused AS (
      SELECT doc_id,
             CAST(bm25_rank AS INTEGER) AS bm25_rank,
             CAST(cos_rank AS INTEGER) AS cos_rank,
             CAST(ROUND(CAST({sql_rrf_term('bm25_rank', RRF_K)}
                             + {sql_rrf_term('cos_rank', RRF_K)}
                           AS DECIMAL(20,12)), 9) AS DOUBLE) AS rrf_score
      FROM bmleg FULL JOIN denseleg USING (doc_id)),
    rrftop AS (SELECT * FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20)
    """


@register(
    "text_bm25_search",
    f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS dl,
             list_filter(t, x -> list_contains(['spark', 'hash', 'join'], x)) AS qt
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
    tf AS (
      SELECT doc_id, dl, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, dl, unnest(qt) AS token FROM base)
      GROUP BY 1, 2, 3),
    dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS total_tok FROM base),
    scored AS (
      SELECT tf.doc_id,
             ((CAST(stats.n_docs AS DOUBLE) - CAST(dfreq.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
              / (CAST(dfreq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
             * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
             / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
                * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
                   * (CAST(tf.dl AS DOUBLE)
                      / (CAST(stats.total_tok AS DOUBLE) / CAST(stats.n_docs AS DOUBLE))))) AS s
      FROM tf CROSS JOIN stats JOIN dfreq ON tf.token = dfreq.token),
    bmall AS (
      SELECT doc_id,
             {sql_dsum('s')} AS bm25,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit
      FROM scored
      GROUP BY doc_id),
    bmtop AS (SELECT * FROM bmall ORDER BY bm25 DESC, doc_id LIMIT 20),
    {_rrf_oracle()},
    phcnt AS (
      -- NAIVE per-document phrase scan; the Spark side answers from
      -- positional postings with aligned-offset joins, so the hash
      -- proves the index path finds exactly the naive matches
      SELECT doc_id,
             CAST(len([i for i in range(1, len(t))
                       if t[i] = '{PHRASE[0]}' AND t[i+1] = '{PHRASE[1]}'])
                  AS BIGINT) AS n_hits
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
    phtop AS (
      SELECT doc_id, n_hits FROM phcnt WHERE n_hits > 0
      ORDER BY n_hits DESC, doc_id LIMIT {PHRASE_K}),
    {posting_compression_sql("documents", "doc_id",
                             "string_split(text, ' ')", k=_POSTINGS_K)}
    SELECT 'bm25' AS branch, doc_id, bm25, n_terms_hit,
           CAST(NULL AS INTEGER) AS bm25_rank,
           CAST(NULL AS INTEGER) AS cos_rank,
           CAST(NULL AS DOUBLE) AS rrf_score,
           CAST(NULL AS VARCHAR) AS token,
           CAST(NULL AS BIGINT) AS df,
           CAST(NULL AS BIGINT) AS bytes_delta,
           CAST(NULL AS BIGINT) AS bytes_plain,
           CAST(NULL AS DOUBLE) AS ratio
    FROM bmtop
    UNION ALL
    SELECT 'rrf' AS branch, doc_id, CAST(NULL AS DOUBLE) AS bm25,
           CAST(NULL AS BIGINT) AS n_terms_hit,
           bm25_rank, cos_rank, rrf_score,
           CAST(NULL AS VARCHAR) AS token,
           CAST(NULL AS BIGINT) AS df,
           CAST(NULL AS BIGINT) AS bytes_delta,
           CAST(NULL AS BIGINT) AS bytes_plain,
           CAST(NULL AS DOUBLE) AS ratio
    FROM rrftop
    UNION ALL
    SELECT 'phrase' AS branch, doc_id, CAST(NULL AS DOUBLE) AS bm25,
           n_hits AS n_terms_hit,
           CAST(NULL AS INTEGER) AS bm25_rank,
           CAST(NULL AS INTEGER) AS cos_rank,
           CAST(NULL AS DOUBLE) AS rrf_score,
           CAST(NULL AS VARCHAR) AS token,
           CAST(NULL AS BIGINT) AS df,
           CAST(NULL AS BIGINT) AS bytes_delta,
           CAST(NULL AS BIGINT) AS bytes_plain,
           CAST(NULL AS DOUBLE) AS ratio
    FROM phtop
    UNION ALL
    SELECT 'postings' AS branch, CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS DOUBLE) AS bm25,
           CAST(NULL AS BIGINT) AS n_terms_hit,
           CAST(NULL AS INTEGER) AS bm25_rank,
           CAST(NULL AS INTEGER) AS cos_rank,
           CAST(NULL AS DOUBLE) AS rrf_score,
           token, df, bytes_delta, bytes_plain, ratio
    FROM pcout
    """,
    doc=(
        "retrieval surface, tagged: 'bm25' rows are BM25 top-20 documents "
        f"for the query {' '.join(QUERY_TERMS)!r} (k1={_BM25_K1}, "
        f"b={_BM25_B}).  The idf factor is the RATIONAL core "
        "(N-df+0.5)/(df+0.5) — per-term monotone in the classic log idf "
        "but log-free, so the whole score is built from IEEE-exact "
        "+,-,*,/ and is bit-identical across engines; per-term scores are "
        "decimal-summed per document (order-free) and ranked on the exact "
        "value with doc_id tiebreak.  Production rankers can swap in log "
        "idf — ranking-only use does not need cross-engine parity.  Scale "
        "shape: query-term filter BEFORE the explode (narrow), tf+df from "
        "one exploded pass, corpus stats from a column-pruned second "
        "scan, dims broadcast, top-k as TakeOrderedAndProject.  'rrf' "
        "rows are Reciprocal Rank Fusion hybrid retrieval "
        "(operators/fusion.py, Cormack et al. SIGIR 2009): the BM25 leg "
        "fused with a dense cosine leg (query vector = embedding "
        f"{RRF_QUERY_VEC}, standing in for an encoded query), "
        f"score = Σ 1/({RRF_K}+rank) over top-{RRF_DEPTH} per leg.  Each "
        "leg is a TakeOrderedAndProject top-L with ranks assigned inside "
        "one aggregate over the bounded set (never a global sort or an "
        "unpartitioned window), and fusion is a union + one hash "
        "aggregate (a full-outer join refuses broadcast), so cost is "
        "leg-sized at any corpus scale; per-leg ranks and the "
        "decimal-rounded fused score are hash-verified.  'postings' "
        "rows: inverted-index storage planning "
        "(operators/postings.posting_compression — the Lucene-style "
        "delta+varint codec estimate): per top-df term, exact byte "
        "cost of gap-coded postings vs plain int64, all integer "
        "arithmetic (varint length is a >=2^k step chain), gaps via "
        "lag over the per-term window (bounded by the posting list "
        "the index materializes anyway; stop-word-scale lists shard "
        "by id-range per the segmented layout)."
    ),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.functions.scalar import dsum
    from mongo2mysql_spark.functions.vector import cosine_seq
    from mongo2mysql_spark.operators.fusion import ranked_topk, rrf_fuse
    from mongo2mysql_spark.queries import tagged_union

    d = T(spark, sf_dir, "documents", fanout=True)
    t = tokens(F.col("text"))
    base = d.select(
        "doc_id",
        F.size(t).cast("long").alias("dl"),
        F.filter(t, lambda x: x.isin(*QUERY_TERMS)).alias("qt"),
    )
    tf = (
        base.select("doc_id", "dl", F.explode("qt").alias("token"))
        .groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_tok")
    )
    tf_d = F.col("tf").cast("double")
    idf = (
        F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    avgdl = F.col("total_tok").cast("double") / F.col("n_docs").cast("double")
    s = (
        idf
        * (tf_d * F.lit(2.2))
        / (
            tf_d
            + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (F.col("dl").cast("double") / avgdl))
        )
    )
    bmall = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn("s", s)
        .groupBy("doc_id")
        .agg(dsum(F.col("s")).alias("bm25"), F.count(F.lit(1)).alias("n_terms_hit"))
    )
    bmtop = bmall.orderBy(F.desc("bm25"), "doc_id").limit(20)

    # RRF legs: ranked_topk = TakeOrderedAndProject to RRF_DEPTH rows,
    # ranks assigned inside one aggregate over the bounded set — no
    # global sort, no unpartitioned window at any scale.
    bmleg = ranked_topk(bmall, "doc_id", "bm25", RRF_DEPTH)
    emb = T(spark, sf_dir, "embeddings", fanout=True)
    qv = emb.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("embedding").alias("__qv")
    )
    dense = emb.crossJoin(F.broadcast(qv)).select(
        F.col("vec_id").alias("doc_id"),
        cosine_seq(F.col("embedding"), F.col("__qv")).alias("cos"),
    )
    denseleg = ranked_topk(dense, "doc_id", "cos", RRF_DEPTH)
    rrftop = (
        rrf_fuse({"bm25": bmleg, "cos": denseleg}, id_col="doc_id", k=RRF_K)
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(20)
    )
    from mongo2mysql_spark.operators.phrase import phrase_match_counts

    ph = phrase_match_counts(
        d, "doc_id", tokens(F.col("text")), list(PHRASE), k=PHRASE_K
    ).select("doc_id", F.col("n_hits").alias("n_terms_hit"))
    # index storage planning (operators/postings.py): exact
    # delta+varint byte costs of the top-df posting lists — the codec
    # decision the index builder makes before writing segments
    from mongo2mysql_spark.operators.postings import posting_compression

    pc = artifact(
        "text.postings",
        spark,
        sf_dir,
        # SEGMENTED build (shard_span): the 100 TB stop-word shape —
        # the unchanged naive-window oracle hashes it bit-equal
        # (same-answer-different-path gate)
        lambda: posting_compression(
            d, "doc_id", tokens(F.col("text")), k=_POSTINGS_K,
            shard_span=_POSTINGS_SHARD_SPAN,
        ).localCheckpoint(),
    )
    return tagged_union(
        {"bm25": bmtop, "rrf": rrftop, "phrase": ph, "postings": pc}
    )


# Document fingerprinting (md5 over the sorted distinct token set,
# functions/text.fingerprint) has no standalone registry entry: the
# identical expression is hash-verified per-document inside
# dedup_exact_hashes' token_set branch (queries/dedup.py).


WINNOW_K, WINNOW_W = 5, 4
# passage-dup pairing over the fingerprint stream (operators/passages.py)
PASSAGE_MIN_SHARED, PASSAGE_MAX_FP_DF = 2, 100
# self-repetition span detection + stripping (operators/passages.py)
SELFREP_MIN_ANCHORS, SELFREP_MERGE_GAP = 2, 20
# exact duplicated-k-gram spans (operators/passages.exact_dup_spans)
_EXACT_SPAN_K = 8


@register(
    "text_winnow_fingerprints",
    f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(t) - {WINNOW_K} + 1, 0) + 1),
               i -> CAST('0x' || substr(md5(array_to_string(
                      list_slice(t, i, i + {WINNOW_K} - 1), ' ')), 1, 12) AS BIGINT)
             ) AS hs
      FROM tok),
    m AS (
      SELECT doc_id,
             CASE WHEN len(hs) > 0 THEN
               list_sort(list_distinct(list_transform(
                 range(1, greatest(len(hs) - {WINNOW_W} + 1, 1) + 1),
                 i -> list_min(list_slice(hs, i, i + {WINNOW_W} - 1)))))
             ELSE [] END AS fps
      FROM h),
    f AS (SELECT doc_id, unnest(fps) AS fp FROM m),
    sizes AS (SELECT doc_id, count(*) AS n_fps FROM f GROUP BY 1),
    kept AS (SELECT fp FROM f GROUP BY fp
             HAVING count(*) <= {PASSAGE_MAX_FP_DF}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
      FROM (SELECT doc_id, fp FROM f JOIN kept USING (fp)) a
      JOIN (SELECT doc_id, fp FROM f JOIN kept USING (fp)) b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= {PASSAGE_MIN_SHARED}),
    anch AS (
      SELECT DISTINCT doc_id, a.fp AS fp, a.pos AS pos FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(hs) - {WINNOW_W} + 1, 1) + 1),
                 i -> {{'fp': list_min(list_slice(hs, i, i + {WINNOW_W} - 1)),
                       'pos': list_position(list_slice(hs, i, i + {WINNOW_W} - 1),
                                list_min(list_slice(hs, i, i + {WINNOW_W} - 1)))
                              + i - 2}})) AS a
        FROM h WHERE len(hs) > 0)),
    repeats AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY doc_id, fp
                                  ORDER BY pos) AS rn
        FROM anch) WHERE rn > 1),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN pos - lag_pos > {SELFREP_MERGE_GAP}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM (SELECT doc_id, pos,
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lag_pos
            FROM repeats)),
    sp AS (
      SELECT doc_id, island, MIN(pos) AS s, MAX(pos) AS e,
             COUNT(*) AS n_anchors
      FROM isl GROUP BY 1, 2
      HAVING COUNT(*) >= {SELFREP_MIN_ANCHORS}),
    spancnt AS (
      SELECT doc_id,
             CAST(COUNT(*) AS INTEGER) AS n_spans,
             CAST(MIN(s) AS INTEGER) AS span_min_start,
             CAST(MAX(e + {WINNOW_K}) AS INTEGER) AS span_max_end,
             CAST(SUM(e - s + {WINNOW_K}) AS INTEGER) AS n_stripped
      FROM sp GROUP BY 1),
    strip AS (
      SELECT tok.doc_id,
             CAST(len(t) AS INTEGER) AS n_before,
             COALESCE(n_spans, 0) AS n_spans,
             COALESCE(n_stripped, 0) AS n_stripped,
             CAST(len(t) AS INTEGER) - COALESCE(n_stripped, 0) AS n_after,
             span_min_start, span_max_end
      FROM tok LEFT JOIN spancnt USING (doc_id)),
    {exact_dup_spans_sql("documents", "doc_id", "text", k=_EXACT_SPAN_K)}
    SELECT 'fps' AS branch, doc_id, fp,
           CAST(NULL AS BIGINT) AS doc_a, CAST(NULL AS BIGINT) AS doc_b,
           CAST(NULL AS BIGINT) AS shared_fps,
           CAST(NULL AS BIGINT) AS n_a, CAST(NULL AS BIGINT) AS n_b,
           CAST(NULL AS DOUBLE) AS containment,
           CAST(NULL AS INTEGER) AS n_before, CAST(NULL AS INTEGER) AS n_spans,
           CAST(NULL AS INTEGER) AS n_stripped, CAST(NULL AS INTEGER) AS n_after,
           CAST(NULL AS INTEGER) AS span_min_start,
           CAST(NULL AS INTEGER) AS span_max_end
    FROM f
    UNION ALL
    SELECT 'pairs' AS branch, CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS BIGINT) AS fp,
           p.doc_a, p.doc_b, p.shared_fps,
           sa.n_fps AS n_a, sb.n_fps AS n_b,
           CAST(p.shared_fps AS DOUBLE)
             / least(sa.n_fps, sb.n_fps) AS containment,
           CAST(NULL AS INTEGER) AS n_before, CAST(NULL AS INTEGER) AS n_spans,
           CAST(NULL AS INTEGER) AS n_stripped, CAST(NULL AS INTEGER) AS n_after,
           CAST(NULL AS INTEGER) AS span_min_start,
           CAST(NULL AS INTEGER) AS span_max_end
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    UNION ALL
    SELECT 'strip' AS branch, doc_id, CAST(NULL AS BIGINT) AS fp,
           CAST(NULL AS BIGINT) AS doc_a, CAST(NULL AS BIGINT) AS doc_b,
           CAST(NULL AS BIGINT) AS shared_fps,
           CAST(NULL AS BIGINT) AS n_a, CAST(NULL AS BIGINT) AS n_b,
           CAST(NULL AS DOUBLE) AS containment,
           n_before, n_spans, n_stripped, n_after,
           span_min_start, span_max_end
    FROM strip
    UNION ALL
    SELECT 'exactspans' AS branch, id AS doc_id, CAST(NULL AS BIGINT) AS fp,
           CAST(NULL AS BIGINT) AS doc_a, CAST(NULL AS BIGINT) AS doc_b,
           CAST(NULL AS BIGINT) AS shared_fps,
           CAST(NULL AS BIGINT) AS n_a, CAST(NULL AS BIGINT) AS n_b,
           CAST(NULL AS DOUBLE) AS containment,
           n_before, n_spans, n_dup_tokens AS n_stripped, n_after,
           span_min_start, span_max_end
    FROM esout
    """,
    doc=(
        "winnowing fingerprints + passage-duplicate pairs, tagged: 'fps' "
        "rows are the per-document fingerprint stream (Schleimer/Wilkerson/"
        f"Aiken, SIGMOD 2003 — MOSS: window-of-{WINNOW_W} minima over the "
        f"{WINNOW_K}-gram rolling-hash stream; any shared token run of "
        f"length >= {WINNOW_W + WINNOW_K - 1} shares a fingerprint); "
        "'pairs' rows are cross-document passage-dup candidates "
        "(operators/passages.py): documents sharing >= "
        f"{PASSAGE_MIN_SHARED} fingerprints after a df<= "
        f"{PASSAGE_MAX_FP_DF} boilerplate cap, with containment = "
        "shared/min(n_a,n_b) — int-over-int IEEE division, bit-exact.  "
        "Fingerprinting is a pure array expression (no shuffle); pairing "
        "shuffles on fp then (doc_a, doc_b), both high-cardinality.  "
        "'strip' rows drive the newest text-curation pair end-to-end "
        "(operators/passages.self_repetition_spans + "
        "strip_passage_spans): per document, the within-doc repetition "
        "spans (positional winnowing anchors, later occurrences only, "
        f"gap-merged at {SELFREP_MERGE_GAP}, >= {SELFREP_MIN_ANCHORS} "
        "anchors) are located and STRIPPED, and the row states the "
        "all-integer outcome — token counts before/after, stripped "
        "count, span count and bounds; the oracle restates the whole "
        "anchor→island→strip chain in SQL (gaps-and-islands instead of "
        "the array fold — same merge semantics).  'exactspans' rows: "
        "EXACT duplicated-k-gram spans "
        "(operators/passages.exact_dup_spans — the Lee et al. "
        "ExactSubstr semantic at gram granularity): every position "
        "covered by a corpus-repeated 8-gram (across docs OR within "
        "one), gap-merged per doc; winnowing SAMPLES fingerprints and "
        "can miss runs shorter than w+k-1 — this is its exact "
        "complement, one gram-keyed count (the relational stand-in "
        "for the suffix array) + semi-join back + one bounded lag "
        "window, all integers."
    ),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.passages import (
        doc_fingerprints_pos,
        passage_dup_pairs,
        self_repetition_spans,
        strip_passage_spans,
    )
    from mongo2mysql_spark.queries import tagged_union

    d = T(spark, sf_dir, "documents", fanout=True)
    # ONE corpus fingerprinting pass (md5 shingle hashing dominates this
    # whole family): the persisted positional stream feeds all three
    # branches — the flat fps are its distinct (doc, fp) projection
    # (window-min selection equality is pinned in tests), the pair join
    # consumes the same projection, the self-repetition spans use the
    # positions.  The three artifacts are exactly the state a MOSS-style
    # deployment stores (fingerprint index, duplicate-pair list, span
    # table) — one build-once artifact per (application, sf_dir); the
    # positional cache is owned by the build and released before it
    # returns (the r5 lesson: never leak cached blocks into a long
    # driver session).
    def build_winnow() -> tuple:
        pos = doc_fingerprints_pos(
            d, "doc_id", "text", WINNOW_K, WINNOW_W
        ).persist()
        # fps_ materializes the positional cache; the pair and span
        # chains below then read the warmed cache
        fps_ = pos.select("doc_id", "fp").distinct().localCheckpoint()
        pairs_ = passage_dup_pairs(
            d,
            "doc_id",
            "text",
            k=WINNOW_K,
            w=WINNOW_W,
            min_shared=PASSAGE_MIN_SHARED,
            max_fp_df=PASSAGE_MAX_FP_DF,
            fps=fps_,
        )
        spans_ = self_repetition_spans(
            d, "doc_id", "text",
            k=WINNOW_K, w=WINNOW_W,
            min_anchors=SELFREP_MIN_ANCHORS,
            merge_gap=SELFREP_MERGE_GAP,
            pos_fps=pos,
        ).localCheckpoint()
        # fps is checkpointed above and the pair/span consumers
        # materialize internally (passages.py localCheckpoints its
        # pair-bounded results), so the positional cache can go
        pos.unpersist()
        # EXACT duplicated-k-gram spans (operators/passages.
        # exact_dup_spans — ExactSubstr at gram granularity): doc-
        # bounded artifact, built once with the other winnow artifacts
        from mongo2mysql_spark.operators.passages import exact_dup_spans

        es_ = exact_dup_spans(
            d, "doc_id", "text", k=_EXACT_SPAN_K
        ).localCheckpoint()
        return fps_, pairs_, spans_, es_

    fps, pairs, spans, es_art = artifact(
        "text.winnow", spark, sf_dir, build_winnow
    )
    per_doc_spans = spans.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        F.min("a_start").cast("int").alias("span_min_start"),
        F.max("a_end").cast("int").alias("span_max_end"),
    )
    stripped = strip_passage_spans(
        d.select("doc_id", "text"), spans, "doc_id", "text"
    ).select(
        "doc_id",
        F.col("n_tokens_before").cast("int").alias("n_before"),
        F.col("n_stripped_tokens").cast("int").alias("n_stripped"),
    )
    strip = stripped.join(per_doc_spans, "doc_id", "left").select(
        "doc_id",
        "n_before",
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        "n_stripped",
        (F.col("n_before") - F.col("n_stripped")).alias("n_after"),
        "span_min_start",
        "span_max_end",
    )
    # every position covered by a corpus-repeated k-gram, gap-merged;
    # the sampled winnowing spans' exact complement, riding the same
    # strip column family (artifact built in build_winnow above)
    es = es_art.select(
        F.col("id").alias("doc_id"),
        "n_before",
        "n_spans",
        F.col("n_dup_tokens").alias("n_stripped"),
        "n_after",
        "span_min_start",
        "span_max_end",
    )
    return tagged_union(
        {"fps": fps, "pairs": pairs, "strip": strip, "exactspans": es}
    )


def _pii_planted_sql() -> str:
    """Planted-PII column (DuckDB side): deterministic URL/email/phone/
    id-number derived from doc_id, appended to the real text so the
    scrub has something to hash-differ on without a fixture change."""
    return (
        "text || ' Contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com id ' || CAST(100000 + doc_id AS VARCHAR)"
        " || ' call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' via https://example.com/u/' || CAST(doc_id AS VARCHAR) || ' now'"
        # card-shaped digit runs: one VALID Luhn number, one off-by-one
        # INVALID — the Luhn detector must count 1 / 0 / 0
        " || CASE WHEN doc_id % 3 = 0 THEN ' pay 4111111111111111 ok'"
        "         WHEN doc_id % 3 = 1 THEN ' pay 4111111111111112 ok'"
        "         ELSE '' END"
    )


def _pii_redacted_sql() -> str:
    from mongo2mysql_spark.functions.text import PII_PATTERNS

    out = "planted"
    for pattern, token in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pattern}', '{token}', 'g')"
    return out


def _sql_n_cards() -> str:
    """DuckDB mirror of functions/text.count_valid_cards over `planted`."""
    from mongo2mysql_spark.functions.text import sql_luhn

    runs = r"regexp_extract_all(planted, '\b(\d{13,19})\b', 1)"
    return (
        f"CAST(len(list_filter({runs}, x -> {sql_luhn('x')})) AS INTEGER)"
    )


def _pii_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.functions.text import count_valid_cards, redact_pii

    d = T(spark, sf_dir, "documents", fanout=True)
    planted = F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com id "),
        (F.col("doc_id") + 100000).cast("string"),
        F.lit(" call +1 (555) 010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" via https://example.com/u/"),
        F.col("doc_id").cast("string"),
        F.lit(" now"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" pay 4111111111111111 ok"))
        .when(F.col("doc_id") % 3 == 1, F.lit(" pay 4111111111111112 ok"))
        .otherwise(F.lit("")),
    )
    redacted = redact_pii(planted)
    return d.select(
        "doc_id",
        redacted.alias("redacted"),
        (F.size(F.split(redacted, "<EMAIL>", -1)) - 1).alias("n_emails"),
        (F.size(F.split(redacted, "<URL>", -1)) - 1).alias("n_urls"),
        count_valid_cards(planted).alias("n_cards"),
    )


_RATIO_LANGS = sorted(STOPWORDS)
_PROFILE_NULLS_SQL = """
           CAST(NULL AS VARCHAR) AS redacted,
           CAST(NULL AS INTEGER) AS n_emails,
           CAST(NULL AS INTEGER) AS n_urls,
           CAST(NULL AS INTEGER) AS n_cards"""
_PII_NULLS_SQL = (
    "CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS INTEGER) AS n_tokens, "
    "CAST(NULL AS INTEGER) AS n_bpe_tokens, CAST(NULL AS INTEGER) AS n_unique, "
    "CAST(NULL AS DOUBLE) AS mean_token_len, CAST(NULL AS INTEGER) AS n_chars_actual, "
    "CAST(NULL AS DOUBLE) AS quality, "
    + ", ".join(f"CAST(NULL AS DOUBLE) AS ratio_{lang}" for lang in _RATIO_LANGS)
    + ", CAST(NULL AS VARCHAR) AS lang_guess, "
    + ", ".join(
        f"CAST(NULL AS BOOLEAN) AS {g}"
        for g in (
            "g_words", "g_mean_len", "g_symbol", "g_alpha",
            "g_stop", "g_bullet", "g_ellipsis", "g_keep",
        )
    )
)


_REP_NULLS_SQL = (
    "CAST(NULL AS VARCHAR) AS top_gram, CAST(NULL AS BIGINT) AS top_gram_count, "
    "CAST(NULL AS BIGINT) AS ngram_total, CAST(NULL AS DOUBLE) AS top_gram_fraction"
)

_HTML_NULLS_SQL = (
    "CAST(NULL AS VARCHAR) AS html_title, CAST(NULL AS VARCHAR) AS html_fp, "
    "CAST(NULL AS INTEGER) AS n_chars_html"
)

# 'html' branch: deterministic page synthesis shared by both engines —
# each document's text wrapped in an HTML page with head/script
# machinery, entities, and a doc_id-keyed optional block; each side
# then runs ITS OWN extractor (operators/html.py vs the RE2 chain).
_HTML_PAGE_SQL = """
    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
    || '</title><script>var d=' || CAST(doc_id AS VARCHAR)
    || ';</script></head><body><h1>Doc ' || CAST(doc_id AS VARCHAR)
    || '</h1><p>' || text || ' &amp; tail</p>'
    || CASE WHEN doc_id % 4 = 0 THEN '<div>extra &lt;block&gt;</div>'
            ELSE '' END
    || '</body></html>'
"""


def _html_page_expr() -> F.Column:
    d = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("<html><head><title>Doc "), d,
        F.lit("</title><script>var d="), d,
        F.lit(";</script></head><body><h1>Doc "), d,
        F.lit("</h1><p>"), F.col("text"), F.lit(" &amp; tail</p>"),
        F.when(
            F.col("doc_id") % 4 == 0, F.lit("<div>extra &lt;block&gt;</div>")
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )


def _sql_html_exprs() -> tuple[str, str]:
    from mongo2mysql_spark.operators.html import sql_extract_title, sql_strip_html

    return sql_extract_title("page"), sql_strip_html("page")


_SQL_HTML_TITLE, _SQL_HTML_VISIBLE = _sql_html_exprs()


@register(
    "text_profile_pii",
    f"""
    WITH prof AS ({_profile_sql()}),
    p AS (SELECT doc_id, {_pii_planted_sql()} AS planted FROM documents),
    grams AS (
      SELECT doc_id, gram, count(*) AS c
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                                     i -> t[i] || ' ' || t[i + 1])) AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
      GROUP BY 1, 2),
    rep AS (
      SELECT doc_id, gram AS top_gram, CAST(c AS BIGINT) AS top_gram_count,
             CAST(total AS BIGINT) AS ngram_total,
             CAST(c AS DOUBLE) / CAST(total AS DOUBLE) AS top_gram_fraction
      FROM (SELECT doc_id, gram, c,
                   SUM(c) OVER (PARTITION BY doc_id) AS total,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY c DESC, gram) AS rn
            FROM grams)
      WHERE rn = 1),
    htmlsrc AS (
      SELECT doc_id, {_HTML_PAGE_SQL} AS page FROM documents),
    htmlx AS (
      SELECT doc_id,
             {_SQL_HTML_TITLE} AS html_title,
             {_SQL_HTML_VISIBLE} AS visible
      FROM htmlsrc)
    SELECT 'profile' AS branch, prof.*, {_PROFILE_NULLS_SQL},
           {_REP_NULLS_SQL}, {_HTML_NULLS_SQL}
    FROM prof
    UNION ALL
    SELECT 'pii' AS branch, doc_id, {_PII_NULLS_SQL},
           {_pii_redacted_sql()} AS redacted,
           CAST(len(string_split({_pii_redacted_sql()}, '<EMAIL>')) - 1 AS INTEGER)
             AS n_emails,
           CAST(len(string_split({_pii_redacted_sql()}, '<URL>')) - 1 AS INTEGER)
             AS n_urls,
           {_sql_n_cards()} AS n_cards,
           {_REP_NULLS_SQL}, {_HTML_NULLS_SQL}
    FROM p
    UNION ALL
    SELECT 'repetition' AS branch, doc_id, {_PII_NULLS_SQL},
           {_PROFILE_NULLS_SQL},
           top_gram, top_gram_count, ngram_total, top_gram_fraction,
           {_HTML_NULLS_SQL}
    FROM rep
    UNION ALL
    SELECT 'html' AS branch, doc_id, {_PII_NULLS_SQL},
           {_PROFILE_NULLS_SQL}, {_REP_NULLS_SQL},
           html_title, md5(visible) AS html_fp,
           CAST(length(visible) AS INTEGER) AS n_chars_html
    FROM htmlx
    """,
    doc=(
        "per-document text surface, two branches in one tagged result.  "
        "'profile': token/distinct counts, BPE-ish token count (GPT-2 "
        "split regex), mean token length, the length-band + lexical-"
        "diversity − punctuation-noise quality heuristic, per-language "
        "stopword-hit ratios, the language-ID argmax, and the FULL "
        "Gopher rule battery (functions/text.gopher_flags, Rae et al. "
        "2021 A1.1) as 8 hashed per-document booleans (min_stopwords=1 "
        "here — the synthetic vocabulary carries only 'the' from "
        "Gopher's stop list) — all narrow "
        "expressions, a single scan at 100 TB.  'pii': the corpus-release "
        "scrub — URLs, emails, phone-shaped and long digit runs replaced "
        "with typed placeholders (ordered, lookahead-free regexes in the "
        "Java/RE2 shared subset, chained JVM regexp_replace, no UDF) over "
        "deterministic planted PII so the oracle hash-verifies actual "
        "redactions on every row.  'repetition': the Gopher/MassiveText "
        "repeated-n-gram filter signal (operators/repetition."
        "top_ngram_fraction) — each document's modal bigram and the "
        "fraction of its bigram stream it covers, keyed shuffles on "
        "(doc, gram) so hot documents spread across reducers; ties "
        "break on the lexicographically smallest gram, and the fraction "
        "is an int-over-int IEEE division, bit-exact.  'html': the "
        "extraction stage before all of the above on real web data — "
        "operators/html.py strips a deterministically synthesized HTML "
        "wrapper (head/script machinery, entities, block tags) down to "
        "visible text via a Java/RE2 shared-subset regexp chain; each "
        "engine extracts independently and the hash compares the title, "
        "the md5 of the visible text and its length byte-for-byte."
    ),
)
def text_profile_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.repetition import top_ngram_fraction
    from mongo2mysql_spark.queries import tagged_union

    from mongo2mysql_spark.operators.html import extract_title, strip_html

    prof = _text_profile_df(spark, sf_dir)
    pii = _pii_df(spark, sf_dir)
    d = T(spark, sf_dir, "documents", fanout=True)
    rep = top_ngram_fraction(
        d.select("doc_id", tokens(F.col("text")).alias("toks")),
        "doc_id",
        "toks",
        n=2,
    )
    page = d.select("doc_id", _html_page_expr().alias("page"))
    html = page.select(
        "doc_id",
        extract_title(F.col("page")).alias("html_title"),
        F.md5(strip_html(F.col("page"))).alias("html_fp"),
        F.length(strip_html(F.col("page"))).alias("n_chars_html"),
    )
    return tagged_union(
        {"profile": prof, "pii": pii, "repetition": rep, "html": html}
    )


# ------------------------------------------------------------------ multimodal

# patchify branch: stride-sampled media, 16x16 patches, 4x4 preview grid
MM_PATCH_STRIDE = 97
MM_PATCH = 16
MM_PREVIEW = 4
# audio framing branch: librosa-style frame/hop (center=False), one
# row per analysis window on a stride-sampled clip subset
MM_FRAME_STRIDE = 89
MM_FRAME_LEN = 400
MM_HOP = 160
MM_FRAME_PREVIEW = 6


@register(
    "mm_payload_decode",
    f"""
    WITH h AS (SELECT doc_id, text, sha256(text) AS h FROM documents),
    pimg AS (
      SELECT doc_id AS media_id, h,
             16 + (CAST('0x' || substr(h, 1, 4) AS INTEGER) % 4080) AS width,
             16 + (CAST('0x' || substr(h, 5, 4) AS INTEGER) % 2144) AS height
      FROM h WHERE doc_id % {MM_PATCH_STRIDE} = 0),
    pgrid AS (
      SELECT media_id, h, width, height,
             CAST(ceil(width / {MM_PATCH}.0) AS BIGINT)
               * CAST(ceil(height / {MM_PATCH}.0) AS BIGINT) AS n_patches,
             ix.i AS patch_ix, iy.j AS patch_iy
      FROM pimg
      CROSS JOIN (SELECT unnest(range({MM_PREVIEW})) AS i) ix
      CROSS JOIN (SELECT unnest(range({MM_PREVIEW})) AS j) iy
      WHERE ix.i < ceil(width / {MM_PATCH}.0)
        AND iy.j < ceil(height / {MM_PATCH}.0)),
    ppatch AS (
      SELECT media_id,
             CAST(patch_ix AS INTEGER) AS patch_ix,
             CAST(patch_iy AS INTEGER) AS patch_iy,
             CAST(LEAST({MM_PATCH}, width - patch_ix * {MM_PATCH}) AS INTEGER)
               AS patch_w,
             CAST(LEAST({MM_PATCH}, height - patch_iy * {MM_PATCH}) AS INTEGER)
               AS patch_h,
             CAST(CAST('0x' || substr(sha256(
                    h || ':' || CAST(patch_ix AS VARCHAR)
                      || ':' || CAST(patch_iy AS VARCHAR)), 1, 4)
                  AS INTEGER) % 256 AS INTEGER) AS patch_mean,
             n_patches
      FROM pgrid),
    pwin AS (
      SELECT doc_id AS media_id, h, n_samples,
             CASE WHEN n_samples >= {MM_FRAME_LEN}
                  THEN 1 + (n_samples - {MM_FRAME_LEN}) // {MM_HOP}
                  ELSE 0 END AS n_windows
      FROM (SELECT doc_id, h,
                   1000 + (CAST('0x' || substr(h, 13, 4) AS INTEGER)
                           % 100000) AS n_samples
            FROM h WHERE doc_id % {MM_FRAME_STRIDE} = 0)),
    pframe AS (
      SELECT media_id,
             CAST(fi.i AS INTEGER) AS frame_idx,
             CAST(fi.i * {MM_HOP} AS BIGINT) AS start_sample,
             CAST(fi.i * {MM_HOP} + {MM_FRAME_LEN} AS BIGINT) AS end_sample,
             CAST(CAST('0x' || substr(sha256(
                    h || ':' || CAST(fi.i AS VARCHAR)), 1, 4)
                  AS INTEGER) % 32768 AS INTEGER) AS frame_rms,
             CAST(n_windows AS BIGINT) AS n_windows,
             CAST(n_samples AS BIGINT) AS n_samples
      FROM pwin
      CROSS JOIN (SELECT unnest(range({MM_FRAME_PREVIEW})) AS i) fi
      WHERE fi.i < n_windows)
    SELECT 'payload' AS branch,
           doc_id AS media_id,
           'text/plain' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           h AS checksum,  -- DuckDB sha256 takes VARCHAR; same UTF-8 bytes
           lower(hex(encode(substring(text, 1, 8)))) AS prefix_hex,
           CAST(NULL AS INTEGER) AS width,
           CAST(NULL AS INTEGER) AS height,
           CAST(NULL AS INTEGER) AS n_frames,
           CAST(NULL AS INTEGER) AS patch_ix, CAST(NULL AS INTEGER) AS patch_iy,
           CAST(NULL AS INTEGER) AS patch_w, CAST(NULL AS INTEGER) AS patch_h,
           CAST(NULL AS INTEGER) AS patch_mean, CAST(NULL AS BIGINT) AS n_patches,
           CAST(NULL AS INTEGER) AS frame_idx,
           CAST(NULL AS BIGINT) AS start_sample,
           CAST(NULL AS BIGINT) AS end_sample,
           CAST(NULL AS INTEGER) AS frame_rms,
           CAST(NULL AS BIGINT) AS n_windows,
           CAST(NULL AS BIGINT) AS n_samples
    FROM h
    UNION ALL
    SELECT 'decode' AS branch,
           doc_id AS media_id,
           'text/plain' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           h AS checksum,
           CAST(NULL AS VARCHAR) AS prefix_hex,
           CAST(16 + (CAST('0x' || substr(h, 1, 4) AS INTEGER) % 4080) AS INTEGER) AS width,
           CAST(16 + (CAST('0x' || substr(h, 5, 4) AS INTEGER) % 2144) AS INTEGER) AS height,
           CAST(1 + (CAST('0x' || substr(h, 9, 4) AS INTEGER) % 300) AS INTEGER) AS n_frames,
           CAST(NULL AS INTEGER) AS patch_ix, CAST(NULL AS INTEGER) AS patch_iy,
           CAST(NULL AS INTEGER) AS patch_w, CAST(NULL AS INTEGER) AS patch_h,
           CAST(NULL AS INTEGER) AS patch_mean, CAST(NULL AS BIGINT) AS n_patches,
           CAST(NULL AS INTEGER) AS frame_idx,
           CAST(NULL AS BIGINT) AS start_sample,
           CAST(NULL AS BIGINT) AS end_sample,
           CAST(NULL AS INTEGER) AS frame_rms,
           CAST(NULL AS BIGINT) AS n_windows,
           CAST(NULL AS BIGINT) AS n_samples
    FROM h
    UNION ALL
    SELECT 'patches' AS branch, media_id,
           CAST(NULL AS VARCHAR) AS media_type,
           CAST(NULL AS BIGINT) AS n_bytes,
           CAST(NULL AS VARCHAR) AS checksum,
           CAST(NULL AS VARCHAR) AS prefix_hex,
           CAST(NULL AS INTEGER) AS width,
           CAST(NULL AS INTEGER) AS height,
           CAST(NULL AS INTEGER) AS n_frames,
           patch_ix, patch_iy, patch_w, patch_h, patch_mean, n_patches,
           CAST(NULL AS INTEGER) AS frame_idx,
           CAST(NULL AS BIGINT) AS start_sample,
           CAST(NULL AS BIGINT) AS end_sample,
           CAST(NULL AS INTEGER) AS frame_rms,
           CAST(NULL AS BIGINT) AS n_windows,
           CAST(NULL AS BIGINT) AS n_samples
    FROM ppatch
    UNION ALL
    SELECT 'frames' AS branch, media_id,
           CAST(NULL AS VARCHAR) AS media_type,
           CAST(NULL AS BIGINT) AS n_bytes,
           CAST(NULL AS VARCHAR) AS checksum,
           CAST(NULL AS VARCHAR) AS prefix_hex,
           CAST(NULL AS INTEGER) AS width,
           CAST(NULL AS INTEGER) AS height,
           CAST(NULL AS INTEGER) AS n_frames,
           CAST(NULL AS INTEGER) AS patch_ix, CAST(NULL AS INTEGER) AS patch_iy,
           CAST(NULL AS INTEGER) AS patch_w, CAST(NULL AS INTEGER) AS patch_h,
           CAST(NULL AS INTEGER) AS patch_mean, CAST(NULL AS BIGINT) AS n_patches,
           frame_idx, start_sample, end_sample, frame_rms, n_windows, n_samples
    FROM pframe
    """,
    doc=(
        "multimodal surface, tagged.  'payload' branch: binary column + "
        "typed metadata as pure expressions (payload pruned for "
        "metadata-only readers).  'decode' branch: Arrow mapInPandas "
        "batches over binary payloads with a deterministic fake decoder "
        "(real decoder is the documented NotImplementedError seam) "
        "deriving width/height/n_frames from sha256(payload) nibbles — "
        "the oracle restates the exact metadata in SQL and hash-verifies "
        "the full Arrow batch path.  'patches' branch: ViT-style "
        "patchify (operators/multimodal.patchify_images) — one image "
        f"row expands to one row per {MM_PATCH}×{MM_PATCH} patch via a "
        "second mapInPandas stage (the row-expansion shape between "
        "decode and a patch encoder); grid geometry and edge-patch "
        "truncation are real, per-patch content stats derive from the "
        "fake decode, output bounded to a stride-sampled media subset "
        f"and the {MM_PREVIEW}×{MM_PREVIEW} preview window (the corpus "
        "audit shape; uncapped on a cluster).  'frames' branch: audio "
        "framing (operators/multimodal.frame_audio) — librosa-style "
        f"frame_length={MM_FRAME_LEN}/hop={MM_HOP} windows "
        "(center=False) with real geometry (1 + (n-frame)//hop "
        "windows, window i = [i*hop, i*hop+frame)), clip length and "
        "per-window RMS from the fake-decode seam; every emitted "
        "window hash-verified."
    ),
)
def mm_payload_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.multimodal import (
        frame_audio,
        patchify_images,
    )
    from mongo2mysql_spark.queries import tagged_union

    d = T(spark, sf_dir, "documents", fanout=True)
    pf = payload_frame(
        d, F.col("doc_id"), F.encode(F.col("text"), "UTF-8"), F.lit("text/plain")
    )
    stats = pf.select(
        "media_id",
        "media_type",
        "n_bytes",
        "checksum",
        F.lower(F.hex(F.encode(F.substring(F.col("payload").cast("string"), 1, 8), "UTF-8"))).alias("prefix_hex"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("n_frames"),
    )
    decoded = decode_metadata(pf, mode="fake").select(
        "media_id",
        "media_type",
        "n_bytes",
        "checksum",
        F.lit(None).cast("string").alias("prefix_hex"),
        "width",
        "height",
        "n_frames",
    )
    patches = patchify_images(
        decode_metadata(
            pf.filter(F.col("media_id") % MM_PATCH_STRIDE == 0), mode="fake"
        ),
        patch=MM_PATCH,
        preview=MM_PREVIEW,
    )
    frames = frame_audio(
        decode_metadata(
            pf.filter(F.col("media_id") % MM_FRAME_STRIDE == 0), mode="fake"
        ),
        frame_len=MM_FRAME_LEN,
        hop=MM_HOP,
        preview=MM_FRAME_PREVIEW,
    )
    return tagged_union(
        {
            "payload": stats,
            "decode": decoded,
            "patches": patches,
            "frames": frames,
        }
    )
