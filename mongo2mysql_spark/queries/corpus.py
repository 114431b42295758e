"""Composed corpus-cleaning pipeline (extension layer): the flagship
end-to-end training-data preparation flow, as ONE declarative plan —

    score (quality + language-ID) -> filter -> exact near-order dedup
    -> deterministic train/val/test split

Every stage is an operator the engine already ships (functions/text,
operators/dedup, operators/sampling); the point of this query is that
they COMPOSE into a single Catalyst plan: one scan of ``documents``,
narrow expression stages, exactly one shuffle (the dedup's
partitionBy(fingerprint) window), and per-row split hashing — the whole
corpus cleaning pass at 100 TB is scan + 1 shuffle.  The DuckDB oracle
restates the full chain, so the driver hash-verifies the pipeline's
per-document output, not per-stage summaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo2mysql_spark.artifacts import (
    artifact,
    await_query,
    held,
    scratch_dir,
)
from mongo2mysql_spark.functions.text import (
    dup_token_fraction,
    fingerprint,
    lang_guess,
    quality_score,
    tokens,
)
from mongo2mysql_spark.operators.dedup import dedup_exact
from mongo2mysql_spark.operators.sampling import (
    hash_split,
    sql_hash_split,
    sql_systematic_weighted_select,
)
from mongo2mysql_spark.queries import register
from mongo2mysql_spark.operators.packing import sql_length_buckets
from mongo2mysql_spark.queries.text import sql_lang_guess, sql_quality
from mongo2mysql_spark.sources import load_table as T

MIN_QUALITY = 0.3
MIN_TOKENS = 20
MAX_DUP_FRACTION = 0.65  # Gopher-style repetition cut


_CLEAN_SQL = f"""
    WITH toks AS (
      SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
    scored AS (
      SELECT doc_id,
             CAST(len(t) AS INTEGER) AS n_tokens,
             {sql_quality()} AS quality,
             {sql_lang_guess()} AS lang_guess,
             1.0 - (CAST(len(list_distinct(t)) AS DOUBLE)
                    / CAST(GREATEST(len(t), 1) AS DOUBLE)) AS dup_frac,
             md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fp
      FROM toks),
    kept AS (
      SELECT * FROM scored
      WHERE quality >= {MIN_QUALITY} AND n_tokens >= {MIN_TOKENS}
        AND dup_frac <= {MAX_DUP_FRACTION}),
    dedup AS (
      SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM kept)
    SELECT doc_id, lang_guess, quality, n_tokens, dup_frac,
           {sql_hash_split("doc_id")} AS split
    FROM dedup WHERE rn = 1
    """


def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents", fanout=True)
    t = tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        quality_score(t, F.col("text")).alias("quality"),
        lang_guess(t).alias("lang_guess"),
        dup_token_fraction(t).alias("dup_frac"),
        fingerprint(t).alias("fp"),
    )
    kept = scored.filter(
        (F.col("quality") >= MIN_QUALITY)
        & (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("dup_frac") <= MAX_DUP_FRACTION)
    )
    representatives = dedup_exact(kept, ["fp"], "doc_id")
    return representatives.select(
        "doc_id",
        "lang_guess",
        "quality",
        "n_tokens",
        "dup_frac",
        hash_split(F.col("doc_id")).alias("split"),
    )


SEQ_LEN = 2048
# 'syssample' branch: weight-proportional systematic selection — k
# sample slots over the cumulative token axis (operators/sampling)
SYS_K = 100


@register(
    "corpus_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    c AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM t),
    spans AS (
      SELECT doc_id,
             CAST(n_tok AS INTEGER) AS n_tokens,
             cum_before // {SEQ_LEN} AS first_seq,
             cum_before % {SEQ_LEN} AS first_offset,
             (cum_before + GREATEST(n_tok, 1) - 1) // {SEQ_LEN} AS last_seq,
             CAST((cum_before + GREATEST(n_tok, 1) - 1) // {SEQ_LEN}
                  - cum_before // {SEQ_LEN} + 1 AS INTEGER) AS n_seqs
      FROM c),
    mrows AS (
      SELECT doc_id, n_tok, cum_before,
             unnest(generate_series(cum_before // {SEQ_LEN},
                                    (cum_before + n_tok - 1) // {SEQ_LEN}))
               AS seq_id
      FROM c WHERE n_tok > 0),
    manifest AS (
      SELECT seq_id, doc_id,
             GREATEST(seq_id * {SEQ_LEN}, cum_before) - cum_before AS doc_start,
             CAST(LEAST((seq_id + 1) * {SEQ_LEN}, cum_before + n_tok)
                  - GREATEST(seq_id * {SEQ_LEN}, cum_before) AS INTEGER)
               AS slice_tok,
             CAST(GREATEST(seq_id * {SEQ_LEN}, cum_before)
                  - seq_id * {SEQ_LEN} AS INTEGER) AS seq_offset
      FROM mrows),
    bkt AS (
      SELECT doc_id,
             CAST(n_tok AS INTEGER) AS n_tokens,
             CAST({sql_length_buckets("n_tok", SEQ_LEN)} AS INTEGER)
               AS bucket_len,
             CAST({sql_length_buckets("n_tok", SEQ_LEN)}
                  - LEAST(n_tok, {SEQ_LEN}) AS INTEGER) AS pad_tokens,
             n_tok > {SEQ_LEN} AS overflow
      FROM t),
    {sql_systematic_weighted_select("t", "doc_id", "n_tok", SYS_K)}
    SELECT 'spans' AS branch, doc_id, n_tokens, first_seq, first_offset,
           last_seq, n_seqs,
           CAST(NULL AS BIGINT) AS seq_id, CAST(NULL AS BIGINT) AS doc_start,
           CAST(NULL AS INTEGER) AS slice_tok,
           CAST(NULL AS INTEGER) AS seq_offset,
           CAST(NULL AS INTEGER) AS bucket_len,
           CAST(NULL AS INTEGER) AS pad_tokens,
           CAST(NULL AS BOOLEAN) AS overflow,
           CAST(NULL AS BIGINT) AS cum_before,
           CAST(NULL AS INTEGER) AS picks,
           CAST(NULL AS BOOLEAN) AS selected
    FROM spans
    UNION ALL
    SELECT 'manifest' AS branch, doc_id, CAST(NULL AS INTEGER) AS n_tokens,
           CAST(NULL AS BIGINT) AS first_seq, CAST(NULL AS BIGINT) AS first_offset,
           CAST(NULL AS BIGINT) AS last_seq, CAST(NULL AS INTEGER) AS n_seqs,
           seq_id, doc_start, slice_tok, seq_offset,
           CAST(NULL AS INTEGER) AS bucket_len,
           CAST(NULL AS INTEGER) AS pad_tokens,
           CAST(NULL AS BOOLEAN) AS overflow,
           CAST(NULL AS BIGINT) AS cum_before,
           CAST(NULL AS INTEGER) AS picks,
           CAST(NULL AS BOOLEAN) AS selected
    FROM manifest
    UNION ALL
    SELECT 'buckets' AS branch, doc_id, n_tokens,
           CAST(NULL AS BIGINT) AS first_seq, CAST(NULL AS BIGINT) AS first_offset,
           CAST(NULL AS BIGINT) AS last_seq, CAST(NULL AS INTEGER) AS n_seqs,
           CAST(NULL AS BIGINT) AS seq_id, CAST(NULL AS BIGINT) AS doc_start,
           CAST(NULL AS INTEGER) AS slice_tok,
           CAST(NULL AS INTEGER) AS seq_offset,
           bucket_len, pad_tokens, overflow,
           CAST(NULL AS BIGINT) AS cum_before,
           CAST(NULL AS INTEGER) AS picks,
           CAST(NULL AS BOOLEAN) AS selected
    FROM bkt
    UNION ALL
    SELECT 'syssample' AS branch, doc_id,
           CAST(w AS INTEGER) AS n_tokens,
           CAST(NULL AS BIGINT) AS first_seq, CAST(NULL AS BIGINT) AS first_offset,
           CAST(NULL AS BIGINT) AS last_seq, CAST(NULL AS INTEGER) AS n_seqs,
           CAST(NULL AS BIGINT) AS seq_id, CAST(NULL AS BIGINT) AS doc_start,
           CAST(NULL AS INTEGER) AS slice_tok,
           CAST(NULL AS INTEGER) AS seq_offset,
           CAST(NULL AS INTEGER) AS bucket_len,
           CAST(NULL AS INTEGER) AS pad_tokens,
           CAST(NULL AS BOOLEAN) AS overflow,
           cum_before, picks, selected
    FROM syssel
    """,
    doc=(
        "GPT-style sequence packing, tagged: 'spans' rows give, per "
        "document, the training-sequence span it lands in when the "
        "corpus token stream (doc_id order) is sliced into sequences of "
        f"exactly {SEQ_LEN} tokens; 'manifest' rows are the loader-side "
        "inverse (operators/packing.pack_manifest) — one row per "
        "(sequence, contributing doc) with the exact token slice "
        "(doc_start/slice_tok/seq_offset), i.e. what a data loader reads "
        "to assemble sequence N without scanning the corpus.  The global "
        "exclusive prefix sum rides the two-phase scheme "
        "(operators/sequence.add_running_total_two_phase) — never a "
        "no-partition window; the manifest adds one bounded sequence() "
        "explode.  All-integer arithmetic: bit-exact cross-engine.  "
        "'buckets' rows are length-bucketed batching "
        "(operators/packing.length_buckets — the dynamic-batching "
        "alternative to packing for fine-tuning/serving): smallest "
        "power-of-two bucket ≥ token count with per-document padding "
        "waste and an overflow flag; the ladder is a literal integer "
        "comparison chain (no log2 — transcendental-free hash "
        "contract), a pure narrow projection fused into the scan.  "
        "'syssample' rows are weight-proportional SYSTEMATIC selection "
        f"(operators/sampling.systematic_weighted_select, k={SYS_K}): "
        "a sample point at every total/k along the cumulative token "
        "axis — the transcendental-free counterpart of weighted "
        "reservoir sampling (Gumbel/A-ES need exp/ln); picks_i = "
        "floor((c+w)k/total) − floor(ck/total), pure integer, Σpicks "
        "exactly k, heavy docs get multiple slots (epochs); rides the "
        "same two-phase prefix sum as the packing branches."
    ),
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.packing import (
        length_buckets,
        pack_manifest,
        pack_sequences,
    )
    from mongo2mysql_spark.queries import tagged_union

    d = T(spark, sf_dir, "documents", fanout=True)
    counted = d.select("doc_id", F.size(tokens(F.col("text"))).alias("n_tokens"))
    packed = pack_sequences(counted, "n_tokens", "doc_id", SEQ_LEN)
    manifest = pack_manifest(packed, "n_tokens", SEQ_LEN).withColumnRenamed(
        "n_tok", "slice_tok"
    )
    buckets = length_buckets(counted, "n_tokens", "doc_id", SEQ_LEN)
    from mongo2mysql_spark.operators.sampling import (
        systematic_weighted_select,
    )

    sys_sel = systematic_weighted_select(
        counted, "n_tokens", "doc_id", SYS_K
    ).select("doc_id", "n_tokens", "cum_before", "picks", "selected")
    return tagged_union(
        {
            "spans": packed,
            "manifest": manifest,
            "buckets": buckets,
            "syssample": sys_sel,
        }
    )


DECONTAM_N = 8
BENCH_STRIDE = 97  # doc_id % 97 == 0 stands in for the eval/benchmark set
# 'bloom' branch: filter geometry (operators/bloom.py defaults) — at
# sf0.1 the benchmark sets ~11% of the 64Ki bits, giving a real but
# small false-positive rate, so n_bloom_hits >= exact overlap with
# occasional strict inequality (the superset verdict has teeth)
BLOOM_M = 1 << 16
BLOOM_K = 3


@register(
    "decontam_profile",
    f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - {DECONTAM_N} + 1, 0) + 1),
               i -> CAST('0x' || substr(md5(array_to_string(
                      list_slice(t, i, i + {DECONTAM_N} - 1), ' ')), 1, 12) AS BIGINT)
             )) AS hs
      FROM tok),
    ex AS (SELECT doc_id, unnest(hs) AS h FROM sh),
    bench AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id % {BENCH_STRIDE} = 0),
    prof AS (
      SELECT e.doc_id, count(*) AS c, count(b.h) AS hits
      FROM ex e LEFT JOIN bench b ON e.h = b.h
      GROUP BY e.doc_id),
    bloompos AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5(CAST(b.h AS VARCHAR) || '#'
                  || CAST(j AS VARCHAR)), 1, 12) AS BIGINT) % {BLOOM_M} AS pos
      FROM bench b, UNNEST(range(0, {BLOOM_K})) AS s(j)),
    bprobe AS (
      SELECT e.doc_id, e.h, count(p.pos) AS k_present
      FROM ex e
      CROSS JOIN UNNEST(range(0, {BLOOM_K})) AS s(j)
      LEFT JOIN bloompos p
        ON CAST('0x' || substr(md5(CAST(e.h AS VARCHAR) || '#'
                || CAST(j AS VARCHAR)), 1, 12) AS BIGINT) % {BLOOM_M} = p.pos
      GROUP BY e.doc_id, e.h),
    bloomdoc AS (
      SELECT doc_id,
             count(*) FILTER (WHERE k_present = {BLOOM_K}) AS n_bloom_hits
      FROM bprobe GROUP BY doc_id)
    SELECT 'profile' AS branch, d.doc_id,
           coalesce(p.c, 0) AS n_shingles,
           coalesce(p.hits, 0) AS n_contaminated,
           CASE WHEN coalesce(p.c, 0) > 0
                THEN CAST(coalesce(p.hits, 0) AS DOUBLE) / CAST(p.c AS DOUBLE)
                ELSE 0.0 END AS contamination_frac,
           coalesce(p.hits, 0) > 0 AS contaminated,
           CAST(NULL AS BIGINT) AS n_bloom_hits,
           CAST(NULL AS BOOLEAN) AS bloom_superset_ok
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN prof p ON d.doc_id = p.doc_id
    UNION ALL
    SELECT 'bloom' AS branch, d.doc_id,
           CAST(NULL AS BIGINT) AS n_shingles,
           CAST(NULL AS BIGINT) AS n_contaminated,
           CAST(NULL AS DOUBLE) AS contamination_frac,
           CAST(NULL AS BOOLEAN) AS contaminated,
           coalesce(bd.n_bloom_hits, 0) AS n_bloom_hits,
           TRUE AS bloom_superset_ok
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN bloomdoc bd ON d.doc_id = bd.doc_id
    """,
    doc=(
        "benchmark decontamination (GPT-3/Llama/Gopher-style n-gram "
        f"overlap scrub): every document profiled against the doc_id % "
        f"{BENCH_STRIDE} == 0 subset standing in for an eval set — distinct "
        f"{DECONTAM_N}-gram count, benchmark-overlap count/fraction, and the "
        "contaminated verdict used by remove_contaminated.  Scale shape: "
        "the benchmark's shingle-hash set is BROADCAST (eval sets are tiny "
        "next to the corpus); the corpus side is one narrow explode of "
        "48-bit integer hashes + one partially-aggregated groupBy(doc_id) — "
        "no text on the shuffle, nothing quadratic.  'bloom' branch: the "
        "same membership question answered through a mergeable Bloom "
        f"filter (operators/bloom.py, m=2^16 bits, k={BLOOM_K} md5-derived "
        "hash functions) built from the benchmark shingles — the 100 TB "
        "seen-set shape, where the broadcast side is m bits instead of "
        "exact keys.  The served filter is maintained through the "
        "STREAMING seen-set store (streaming/seenset.py): two "
        "availableNow foreachBatch refreshes over disjoint benchmark "
        "halves publish a crash-safe manifest store, and union "
        "idempotence makes the served filter equal the one-shot build "
        "the oracle states.  The hash verifies each document's exact "
        "n_bloom_hits (the filter is bit-identical cross-engine) and the "
        "oracle asserts the no-false-negative guarantee "
        "(n_bloom_hits >= exact overlap) as a TRUE verdict."
    ),
)
def decontam_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.functions.text import shingle_hashes, tokens
    from mongo2mysql_spark.operators.bloom import bloom_hit_counts
    from mongo2mysql_spark.operators.decontam import contamination_profile
    from mongo2mysql_spark.queries import tagged_union

    d = T(spark, sf_dir, "documents", fanout=True)
    bench = d.filter(F.col("doc_id") % BENCH_STRIDE == 0)
    # held (persisted, released on the next build): prof feeds BOTH the
    # 'profile' branch and the bloom_superset_ok join below — without
    # it the contamination shingle join runs twice per materialization
    prof = held(
        "corpus.decontam_profile", contamination_profile(d, bench, n=DECONTAM_N)
    )

    doc_sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingle_hashes(tokens(F.col("text")), DECONTAM_N))
        ).alias("h"),
    )
    # the served filter comes through the STREAMING seen-set store
    # (streaming/seenset.py): two availableNow refreshes over disjoint
    # halves of the benchmark docs publish a manifest store whose
    # filter must equal the one-shot bloom_build over all benchmark
    # shingles (union idempotence — the module invariant), so the
    # oracle below stays the one-shot restatement while the hash gate
    # rides the incremental store round-trip.
    from mongo2mysql_spark.streaming.seenset import (
        read_bloom_store,
        streaming_bloom_refresh,
    )

    def _build_filter():
        # write-once streaming state (the two-half fold ≡ one-shot
        # build is the module invariant the gate rides), built once
        # per (application, sf_dir) like the sibling streaming stores
        # (funnelstate, annserve, rollup partials, cmsstream): pass 1
        # pays the micro-batch round-trips, later materializations
        # serve the checkpointed filter words
        raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        with scratch_dir("bloom_seen_") as work:
            for half in (0, 1):
                stream_docs = (
                    spark.readStream.schema(raw_schema)
                    .option("pathGlobFilter", "documents.parquet")
                    .parquet(sf_dir)
                )
                q = streaming_bloom_refresh(
                    stream_docs.filter(
                        (F.col("doc_id") % BENCH_STRIDE == 0)
                        & (F.col("doc_id") % 2 == half)
                    ).select(
                        F.explode(
                            F.array_distinct(
                                shingle_hashes(
                                    tokens(F.col("text")), DECONTAM_N
                                )
                            )
                        ).alias("h")
                    ),
                    f"{work}/store",
                    "h",
                    m_bits=BLOOM_M,
                    k=BLOOM_K,
                    checkpoint_dir=f"{work}/ck{half}",
                )
                # a timed-out query is stopped and fails the build: a
                # half-built filter must never reach the hash gate
                await_query(q, "bloom seen-set refresh")
            # materialize before the store dir is deleted
            return read_bloom_store(spark, f"{work}/store").localCheckpoint()

    fltr = artifact("corpus.bloom_seen", spark, sf_dir, _build_filter)
    # one-pass membership (operators/bloom.bloom_hit_counts): the old
    # probe-then-join shape computed doc_sh (a full corpus shingle
    # explode) TWICE — once for the distinct-h probe, once to join the
    # verdicts back; per-doc shingles are already distinct
    # (array_distinct above), so per-(doc,h) membership == per-h
    # membership and one scan suffices
    perdoc = bloom_hit_counts(
        doc_sh, fltr, "doc_id", "h", m_bits=BLOOM_M, k=BLOOM_K
    ).withColumnRenamed("n_hits", "n_bloom_hits")
    bloom_branch = (
        d.select("doc_id")
        .join(perdoc, "doc_id", "left")
        .join(prof.select("doc_id", "n_contaminated"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bloom_hits"), F.lit(0).cast("long")).alias(
                "n_bloom_hits"
            ),
            (
                F.coalesce(F.col("n_bloom_hits"), F.lit(0))
                >= F.coalesce(F.col("n_contaminated"), F.lit(0))
            ).alias("bloom_superset_ok"),
        )
    )
    return tagged_union({"profile": prof, "bloom": bloom_branch})


N_SHARDS = 8
LM_REF_SOURCE = "src0"  # reference slice the bigram LM trains on

# --- C4 line-cleaning branch: deterministic page synthesis ---------------
# The corpus fixture is single-line prose with no punctuation, so the
# 'c4' branch synthesizes a web-page-shaped copy of every document (the
# same trick the chunk_documents 'sentences' branch uses): tokens are
# grouped into 8-token lines, two of every three lines get terminal
# punctuation, and doc_id-keyed boilerplate lines (javascript chrome, a
# code line with '{', a lorem-ipsum placeholder) are planted so each C4
# rule provably fires.  Spark and the oracle build the page from the
# same spec, then each runs its own implementation of the rules.
C4_LINE_TOKENS = 8
C4_JS_LINE = "Please enable javascript to view this page."
C4_BRACE_LINE = "if (x) { return 1; }"
C4_LOREM_LINE = "Lorem ipsum dolor sit amet."


def _c4_page_expr() -> F.Column:
    """The synthesized multi-line page, as a Spark expression over
    (doc_id, text) — mirrored verbatim by _C4_SQL_CTES."""
    t = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(t) / F.lit(float(C4_LINE_TOKENS))).cast("int")
    base = F.transform(
        F.sequence(F.lit(0), n_lines - F.lit(1)),
        lambda i: F.concat(
            F.array_join(
                F.slice(t, i * C4_LINE_TOKENS + 1, F.lit(C4_LINE_TOKENS)), " "
            ),
            F.when((F.col("doc_id") + i) % 3 != 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )

    def inject(mod: int, s: str) -> F.Column:
        return F.when(F.col("doc_id") % mod == 0, F.array(F.lit(s))).otherwise(
            F.array().cast("array<string>")
        )

    return F.array_join(
        F.concat(
            inject(7, C4_JS_LINE),
            inject(11, C4_BRACE_LINE),
            inject(13, C4_LOREM_LINE),
            base,
        ),
        "\n",
    )


# DuckDB mirror of the synthesis + an independent restatement of the C4
# rules (operators/c4.py defaults).  Plain string — '{' literals.
_C4_SQL_CTES = """
    c4t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    c4page AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN ['Please enable javascript to view this page.']
                  ELSE CAST([] AS VARCHAR[]) END
             || CASE WHEN doc_id % 11 = 0
                  THEN ['if (x) { return 1; }']
                  ELSE CAST([] AS VARCHAR[]) END
             || CASE WHEN doc_id % 13 = 0
                  THEN ['Lorem ipsum dolor sit amet.']
                  ELSE CAST([] AS VARCHAR[]) END
             || list_transform(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT)),
                  i -> array_to_string(t[i * 8 + 1 : i * 8 + 8], ' ')
                       || CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END)
               AS lines
      FROM c4t),
    c4kept AS (
      SELECT doc_id, lines,
             array_to_string(lines, chr(10)) AS page,
             list_filter(lines, l ->
                  right(trim(l), 1) IN ('.', '!', '?', '"')
                  AND len(string_split(trim(l), ' ')) >= 3
                  AND NOT contains(lower(trim(l)), 'javascript')
                  AND NOT contains(lower(trim(l)), 'cookie policy')
                  AND NOT contains(lower(trim(l)), 'terms of use')) AS kept
      FROM c4page),
    c4 AS (
      -- COALESCE: DuckDB's array_to_string([]) is NULL, Spark's
      -- array_join([]) is '' — the zero-kept-lines page must hash ''
      SELECT doc_id,
             CAST(len(lines) AS INTEGER) AS n_lines,
             CAST(len(kept) AS INTEGER) AS n_lines_kept,
             (len(kept) >= 5
                AND NOT contains(lower(page), 'lorem ipsum')
                AND NOT contains(lower(page), '{')) AS page_kept,
             CAST(length(COALESCE(array_to_string(kept, chr(10)), ''))
                  AS INTEGER) AS clean_len,
             md5(COALESCE(array_to_string(kept, chr(10)), '')) AS clean_fp
      FROM c4kept)
"""

# one-call corpus builder (pipelines.build_training_corpus) driver
# config: every optional gate ON (ppl cap, DSIR select, passage strip,
# decontam), BPE off (bpe_roundtrip owns that surface).  max_ppl=35
# drops real mass at sf0.01 (~35% of kept docs) with >3e-3 margin to
# the nearest 1e-4-quantized ppl value.
BUILDER_MAX_PPL = 35.0
BUILDER_DSIR_KEEP = 0.5
BUILDER_SEQ_LEN = 512
BUILDER_SHARDS = 4


def _shard_oracle() -> str:
    from mongo2mysql_spark.operators.sampling import sql_shuffle_shard

    shard_sql, rank_sql = sql_shuffle_shard("doc_id", N_SHARDS)
    return f"""
    WITH r AS (
      SELECT doc_id, {shard_sql} AS shard, {rank_sql} AS shuffle_rank
      FROM documents)
    SELECT doc_id, shard, shuffle_rank,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY shuffle_rank, doc_id) AS INTEGER)
             AS position
    FROM r
    """


@register(
    "corpus_clean_shuffle",
    f"""
    WITH clean AS ({_CLEAN_SQL}),
    sharded AS ({_shard_oracle()}),
    gmix AS (
      SELECT shard,
             CAST(sum(n) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_labels,
             CAST(CAST(sum(n) AS HUGEINT) * sum(n)
                  - sum(CAST(n AS HUGEINT) * n) AS DOUBLE)
               / CAST(CAST(sum(n) AS HUGEINT) * sum(n) AS DOUBLE) AS gini
      FROM (SELECT s.shard, d.source, count(*) AS n
            FROM sharded s JOIN documents d USING (doc_id)
            GROUP BY 1, 2)
      GROUP BY shard),
    reft AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
             WHERE source = '{LM_REF_SOURCE}'),
    refbg AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] AS gram, t[i] AS w1
      FROM reft, UNNEST(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)),
    bgc AS (SELECT gram, count(*) AS c12 FROM refbg GROUP BY 1),
    ugc AS (SELECT w1, count(*) AS c1 FROM refbg GROUP BY 1),
    V AS (SELECT count(DISTINCT w) AS v
          FROM (SELECT unnest(t) AS w FROM reft)),
    allt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    allbg AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] AS gram, t[i] AS w1
      FROM allt, UNNEST(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)),
    scored AS (
      SELECT a.doc_id,
             COALESCE(b.c12, 0) + 1 AS num,
             COALESCE(u.c1, 0) + v AS den
      FROM allbg a
      LEFT JOIN bgc b ON a.gram = b.gram
      LEFT JOIN ugc u ON a.w1 = u.w1, V),
    ppl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
             CAST(SUM(num) AS BIGINT) AS sum_num,
             CAST(SUM(den) AS BIGINT) AS sum_den
      FROM scored GROUP BY 1),
    {_C4_SQL_CTES},
    cur_dom AS (
      SELECT source,
             CAST(row_number() OVER (ORDER BY source) - 1 AS INTEGER)
               AS domain_ix
      FROM (SELECT DISTINCT source FROM documents)),
    cur_q AS (
      SELECT doc_id, source, {sql_quality()} AS q
      FROM (SELECT doc_id, source, text, string_split(text, ' ') AS t
            FROM documents)),
    cur_r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY q DESC, doc_id) - 1 AS BIGINT)
               AS intra_rank
      FROM cur_q),
    cur AS (
      SELECT r.doc_id, r.source, m.domain_ix, r.intra_rank,
             CAST(r.intra_rank * (SELECT count(*) FROM cur_dom)
                  + m.domain_ix AS BIGINT) AS interleave_pos
      FROM cur_r r JOIN cur_dom m USING (source))
    SELECT 'clean' AS branch, clean.*,
           CAST(NULL AS BIGINT) AS shard, CAST(NULL AS BIGINT) AS shuffle_rank,
           CAST(NULL AS INTEGER) AS position,
           CAST(NULL AS BIGINT) AS n_transitions,
           CAST(NULL AS BIGINT) AS sum_num, CAST(NULL AS BIGINT) AS sum_den,
           CAST(NULL AS BOOLEAN) AS lm_ok,
           CAST(NULL AS INTEGER) AS n_lines,
           CAST(NULL AS INTEGER) AS n_lines_kept,
           CAST(NULL AS BOOLEAN) AS page_kept,
           CAST(NULL AS INTEGER) AS clean_len, CAST(NULL AS VARCHAR) AS clean_fp,
           CAST(NULL AS VARCHAR) AS source, CAST(NULL AS INTEGER) AS domain_ix,
           CAST(NULL AS BIGINT) AS intra_rank,
           CAST(NULL AS BIGINT) AS interleave_pos,
           CAST(NULL AS BIGINT) AS n_docs,
           CAST(NULL AS BIGINT) AS n_labels,
           CAST(NULL AS DOUBLE) AS gini
    FROM clean
    UNION ALL
    SELECT 'shuffle' AS branch, doc_id,
           CAST(NULL AS VARCHAR) AS lang_guess, CAST(NULL AS DOUBLE) AS quality,
           CAST(NULL AS INTEGER) AS n_tokens, CAST(NULL AS DOUBLE) AS dup_frac,
           CAST(NULL AS VARCHAR) AS split,
           shard, shuffle_rank, position,
           CAST(NULL AS BIGINT) AS n_transitions,
           CAST(NULL AS BIGINT) AS sum_num, CAST(NULL AS BIGINT) AS sum_den,
           CAST(NULL AS BOOLEAN) AS lm_ok,
           CAST(NULL AS INTEGER) AS n_lines,
           CAST(NULL AS INTEGER) AS n_lines_kept,
           CAST(NULL AS BOOLEAN) AS page_kept,
           CAST(NULL AS INTEGER) AS clean_len, CAST(NULL AS VARCHAR) AS clean_fp,
           CAST(NULL AS VARCHAR) AS source, CAST(NULL AS INTEGER) AS domain_ix,
           CAST(NULL AS BIGINT) AS intra_rank,
           CAST(NULL AS BIGINT) AS interleave_pos,
           CAST(NULL AS BIGINT) AS n_docs,
           CAST(NULL AS BIGINT) AS n_labels,
           CAST(NULL AS DOUBLE) AS gini
    FROM sharded
    UNION ALL
    SELECT 'ppl' AS branch, doc_id,
           CAST(NULL AS VARCHAR) AS lang_guess, CAST(NULL AS DOUBLE) AS quality,
           CAST(NULL AS INTEGER) AS n_tokens, CAST(NULL AS DOUBLE) AS dup_frac,
           CAST(NULL AS VARCHAR) AS split,
           CAST(NULL AS BIGINT) AS shard, CAST(NULL AS BIGINT) AS shuffle_rank,
           CAST(NULL AS INTEGER) AS position,
           n_transitions, sum_num, sum_den, TRUE AS lm_ok,
           CAST(NULL AS INTEGER) AS n_lines,
           CAST(NULL AS INTEGER) AS n_lines_kept,
           CAST(NULL AS BOOLEAN) AS page_kept,
           CAST(NULL AS INTEGER) AS clean_len, CAST(NULL AS VARCHAR) AS clean_fp,
           CAST(NULL AS VARCHAR) AS source, CAST(NULL AS INTEGER) AS domain_ix,
           CAST(NULL AS BIGINT) AS intra_rank,
           CAST(NULL AS BIGINT) AS interleave_pos,
           CAST(NULL AS BIGINT) AS n_docs,
           CAST(NULL AS BIGINT) AS n_labels,
           CAST(NULL AS DOUBLE) AS gini
    FROM ppl
    UNION ALL
    SELECT 'c4' AS branch, doc_id,
           CAST(NULL AS VARCHAR) AS lang_guess, CAST(NULL AS DOUBLE) AS quality,
           CAST(NULL AS INTEGER) AS n_tokens, CAST(NULL AS DOUBLE) AS dup_frac,
           CAST(NULL AS VARCHAR) AS split,
           CAST(NULL AS BIGINT) AS shard, CAST(NULL AS BIGINT) AS shuffle_rank,
           CAST(NULL AS INTEGER) AS position,
           CAST(NULL AS BIGINT) AS n_transitions,
           CAST(NULL AS BIGINT) AS sum_num, CAST(NULL AS BIGINT) AS sum_den,
           CAST(NULL AS BOOLEAN) AS lm_ok,
           n_lines, n_lines_kept, page_kept, clean_len, clean_fp,
           CAST(NULL AS VARCHAR) AS source, CAST(NULL AS INTEGER) AS domain_ix,
           CAST(NULL AS BIGINT) AS intra_rank,
           CAST(NULL AS BIGINT) AS interleave_pos,
           CAST(NULL AS BIGINT) AS n_docs,
           CAST(NULL AS BIGINT) AS n_labels,
           CAST(NULL AS DOUBLE) AS gini
    FROM c4
    UNION ALL
    SELECT 'curriculum' AS branch, doc_id,
           CAST(NULL AS VARCHAR) AS lang_guess, CAST(NULL AS DOUBLE) AS quality,
           CAST(NULL AS INTEGER) AS n_tokens, CAST(NULL AS DOUBLE) AS dup_frac,
           CAST(NULL AS VARCHAR) AS split,
           CAST(NULL AS BIGINT) AS shard, CAST(NULL AS BIGINT) AS shuffle_rank,
           CAST(NULL AS INTEGER) AS position,
           CAST(NULL AS BIGINT) AS n_transitions,
           CAST(NULL AS BIGINT) AS sum_num, CAST(NULL AS BIGINT) AS sum_den,
           CAST(NULL AS BOOLEAN) AS lm_ok,
           CAST(NULL AS INTEGER) AS n_lines,
           CAST(NULL AS INTEGER) AS n_lines_kept,
           CAST(NULL AS BOOLEAN) AS page_kept,
           CAST(NULL AS INTEGER) AS clean_len, CAST(NULL AS VARCHAR) AS clean_fp,
           source, domain_ix, intra_rank, interleave_pos,
           CAST(NULL AS BIGINT) AS n_docs,
           CAST(NULL AS BIGINT) AS n_labels,
           CAST(NULL AS DOUBLE) AS gini
    FROM cur
    UNION ALL
    SELECT 'mixgini' AS branch, CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS VARCHAR) AS lang_guess, CAST(NULL AS DOUBLE) AS quality,
           CAST(NULL AS INTEGER) AS n_tokens, CAST(NULL AS DOUBLE) AS dup_frac,
           CAST(NULL AS VARCHAR) AS split,
           shard, CAST(NULL AS BIGINT) AS shuffle_rank,
           CAST(NULL AS INTEGER) AS position,
           CAST(NULL AS BIGINT) AS n_transitions,
           CAST(NULL AS BIGINT) AS sum_num, CAST(NULL AS BIGINT) AS sum_den,
           CAST(NULL AS BOOLEAN) AS lm_ok,
           CAST(NULL AS INTEGER) AS n_lines,
           CAST(NULL AS INTEGER) AS n_lines_kept,
           CAST(NULL AS BOOLEAN) AS page_kept,
           CAST(NULL AS INTEGER) AS clean_len, CAST(NULL AS VARCHAR) AS clean_fp,
           CAST(NULL AS VARCHAR) AS source, CAST(NULL AS INTEGER) AS domain_ix,
           CAST(NULL AS BIGINT) AS intra_rank,
           CAST(NULL AS BIGINT) AS interleave_pos,
           n_docs, n_labels, gini
    FROM gmix
    """,
    doc=(
        "corpus preparation bookends, three branches in one tagged result.  "
        "'clean': end-to-end corpus cleaning — quality + language scoring, "
        "low-quality/short/repetitive filter (incl. Gopher-style "
        "duplicate-token fraction), exact content dedup (token-set "
        "fingerprint, min-doc_id representative), deterministic 80/10/10 "
        "split — one scan, one shuffle, per-document hash-verified.  "
        "'shuffle': deterministic global corpus shuffle into fixed "
        "training shards (sources/lake.write_training_shards) — each "
        "record's salted-md5 48-bit rank gives a reproducible random "
        f"position, shard = rank % {N_SHARDS}, within-shard order is the "
        "rank: a full permutation with no RNG and no global sort.  "
        "'ppl': CCNet-style model-based fluency (operators/lm.py, Wenzek "
        "et al. LREC 2020) — an add-one bigram LM trained on the '"
        f"{LM_REF_SOURCE}' reference slice scores every document; the "
        "hash verifies the exact integer precursors of each score "
        "(n_transitions, Σ(c12+1), Σ(c1+V) — these pin the bigram join, "
        "counts and smoothing mass bit-exactly) plus an lm_ok "
        "consistency verdict over the float logprob/ppl (logprob < 0, "
        "ppl ≥ 1, exp(-logprob/n) ≈ ppl) that the oracle asserts TRUE "
        "— no transcendental-derived hashed column (r4 lesson); bigram "
        "join shuffles on the observed-bigram key, unigram table "
        "broadcasts.  'c4': C4-style line-level structural cleaning "
        "(operators/c4.py, Raffel et al. 2020 §2.2 + RefinedWeb "
        "boilerplate rules) over a deterministically synthesized "
        "web-page copy of each document (8-token lines, planted "
        "javascript/brace/lorem boilerplate — see _C4_SQL_CTES): "
        "terminal-punctuation + min-word + boilerplate line rules, "
        "min-surviving-lines + lorem-ipsum + brace page rules; the "
        "hash verifies per-document kept-line counts, the page verdict "
        "and the md5 of the cleaned text, all higher-order array "
        "expressions — narrow, no shuffle, no UDF.  'curriculum': "
        "domain-interleaved curriculum ordering "
        "(operators/curriculum.py, Bengio et al. ICML 2009 ordering + "
        "round-robin domain mixing): within-domain rank by quality "
        "desc (tie → doc_id), interleave_pos = rank·D + domain_ix — a "
        "deterministic TOTAL training order with NO global sort (one "
        "domain-partitioned window + a bounded literal domain index); "
        "every rank and position hash-verified.  (The one-call "
        "corpus BUILDER composition is driver-checked separately — "
        "etl_pipeline_e2e 'builder' branch, corpus_builder_report "
        "below.)"
    ),
)
def corpus_clean_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.lm import lm_perplexity, train_bigram_lm
    from mongo2mysql_spark.queries import tagged_union

    d = T(spark, sf_dir, "documents", fanout=True)
    # lazy_vocab: the V count rides as a broadcast 1-row frame instead
    # of an eager .first() job on every fn() build
    # fused=True (r13): unigram counts derive from the lineage-
    # truncated bigram aggregate — one reference tokenize per
    # materialization instead of two
    bigrams, unigrams, vocab = train_bigram_lm(
        d.filter(F.col("source") == LM_REF_SOURCE), "doc_id", "text",
        lazy_vocab=True, fused=True,
    )
    ppl = lm_perplexity(d, "doc_id", "text", bigrams, unigrams, vocab)
    # hash the exact integer precursors; the float logprob/ppl enter
    # only through the lm_ok consistency verdict (oracle states TRUE)
    ppl_checked = ppl.select(
        "doc_id",
        "n_transitions",
        "sum_num",
        "sum_den",
        (
            (F.col("logprob") < 0)
            & (F.col("ppl") >= 1.0)
            & (
                F.abs(
                    F.exp(
                        -F.col("logprob").cast("double")
                        / F.col("n_transitions").cast("double")
                    )
                    - F.col("ppl")
                )
                <= F.col("ppl") * 1e-3 + 1e-3
            )
        ).alias("lm_ok"),
    )
    from mongo2mysql_spark.operators.c4 import c4_clean

    page = d.select("doc_id", _c4_page_expr().alias("text"))
    c4 = c4_clean(page).select(
        "doc_id",
        "n_lines",
        "n_lines_kept",
        "page_kept",
        F.length("clean_text").alias("clean_len"),
        F.md5("clean_text").alias("clean_fp"),
    )
    from mongo2mysql_spark.operators.curriculum import curriculum_interleave

    cur = curriculum_interleave(
        d.select(
            "doc_id",
            "source",
            quality_score(tokens(F.col("text")), F.col("text")).alias("__q"),
        ),
        "source",
        "doc_id",
        F.col("__q"),
    )
    # shard-balance readout (operators/sampling.mix_gini): Gini
    # diversity of each shard's source mix — entropy's ln is barred
    # from hash-gated columns; the integer Gini form carries the same
    # signal with one IEEE division
    from mongo2mysql_spark.operators.sampling import mix_gini

    # held (persisted, released on the next build): the sharded permutation
    # feeds BOTH the 'shuffle' branch and the gini join below — without
    # it the salted-md5 rank pass over the corpus runs twice per
    # materialization
    sharded = held("corpus.sharded", corpus_shuffle_shards(spark, sf_dir))
    gini = mix_gini(
        sharded.select("doc_id", "shard").join(
            d.select("doc_id", "source"), "doc_id"
        ),
        "shard",
        "source",
    ).select("shard", F.col("n_rows").alias("n_docs"), "n_labels", "gini")
    return tagged_union(
        {
            "clean": corpus_clean_pipeline(spark, sf_dir),
            "shuffle": sharded,
            "ppl": ppl_checked,
            "c4": c4,
            "curriculum": cur,
            "mixgini": gini,
        }
    )


def sql_builder_quality_count() -> str:
    """Oracle building block: the builder's quality-filter survivor
    count (scalar SELECT) — the same predicate as _CLEAN_SQL's kept."""
    return f"""
      (SELECT CAST(count(*) AS BIGINT) FROM (
        SELECT {sql_quality()} AS quality,
               CAST(len(t) AS INTEGER) AS n_tokens,
               1.0 - (CAST(len(list_distinct(t)) AS DOUBLE)
                      / CAST(GREATEST(len(t), 1) AS DOUBLE)) AS dup_frac
        FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents))
      WHERE quality >= {MIN_QUALITY} AND n_tokens >= {MIN_TOKENS}
        AND dup_frac <= {MAX_DUP_FRACTION})
    """


def corpus_builder_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row composition audit of the one-call corpus builder.

    Runs ``build_training_corpus`` with the ppl, DSIR, passage-strip
    and decontam gates enabled (the classifier gate has its own driver
    row — semdedup_planted 'classifier' branch — and stays off here to
    keep this slot's wall bounded) against a throwaway output dir and
    reduces the per-stage report to
    (a) the two counts an external oracle can restate exactly (input,
    quality-filter survivors) and (b) boolean invariants of the
    composition.  Every verdict is computed from Spark's own
    deterministic counts, so a TRUE here is stable across environments;
    the cross-engine check rides the exact counts.
    """
    import math

    from mongo2mysql_spark.pipelines import CorpusConfig, build_training_corpus

    d = T(spark, sf_dir, "documents")
    ref = d.filter(F.col("source") == LM_REF_SOURCE)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    with scratch_dir("corpus_builder_") as out_dir:
        r = build_training_corpus(
            d,
            out_dir,
            benchmark=bench,
            config=CorpusConfig(
                max_ppl=BUILDER_MAX_PPL,
                dsir_keep_frac=BUILDER_DSIR_KEEP,
                passage_dedup=True,
                passage_mode="strip",
                seq_len=BUILDER_SEQ_LEN,
                n_shards=BUILDER_SHARDS,
            ),
            lm_reference=ref,
            dsir_target=ref,
        )
    chain = [
        r["input_docs"],
        r["after_quality_filter"],
        r["after_ppl_filter"],
        r["after_dsir_select"],
        r["after_exact_dedup"],
        r["after_passage_strip"],
        r["after_decontam"],
    ]
    final = chain[-1]
    n_seq, toks = r["n_sequences"], r["train_tokens"]
    row = (
        int(r["input_docs"]),
        int(r["after_quality_filter"]),
        all(a >= b for a, b in zip(chain, chain[1:])),
        all(c > 0 for c in chain) and r["train_docs"] > 0,
        # percentile-cut selection: kept ≈ keep_frac of its input
        # (interpolation + decimal-weight ties allow a small band)
        abs(r["after_dsir_select"] - BUILDER_DSIR_KEEP * r["after_ppl_filter"])
        <= 0.05 * r["after_ppl_filter"] + 2,
        r["train_docs"] + r["val_docs"] + r["test_docs"] == final,
        toks > 0 and n_seq == math.ceil(toks / BUILDER_SEQ_LEN),
        int(r["n_shards"]),
    )
    return spark.createDataFrame(
        [row],
        "b_input bigint, b_quality bigint, b_monotone boolean, "
        "b_nonempty boolean, b_dsir_frac_ok boolean, "
        "b_split_conserves boolean, b_packing boolean, b_shards int",
    )


def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from mongo2mysql_spark.operators.sampling import shuffle_shard

    d = T(spark, sf_dir, "documents")
    shard, rank = shuffle_shard(F.col("doc_id"), N_SHARDS)
    out = d.select("doc_id", shard.alias("shard"), rank.alias("shuffle_rank"))
    w = W.partitionBy("shard").orderBy("shuffle_rank", "doc_id")
    return out.withColumn("position", F.row_number().over(w))
