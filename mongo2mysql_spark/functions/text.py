"""Text-analysis column expressions (extension layer, BASELINE.json
north star): tokenization, shingling, quality metrics, language-ID
scoring, fingerprinting.

Everything here is a pure column expression (JVM-side, whole-stage
codegen) — no Python UDFs — so the operators scale to 100 TB document
tables as narrow projections.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column, pattern: str = " ") -> Column:
    """Whitespace tokenization (harness documents are space-joined)."""
    return F.split(text, pattern)


# GPT-2-style pretokenizer regex, restricted to the syntax shared by
# Java regex (Spark) and RE2 (DuckDB): contraction suffixes, then
# optional-leading-space letter runs / digit runs / punctuation runs,
# then whitespace runs.  The upstream GPT-2 pattern's trailing
# `\s+(?!\S)` arm is lookahead (unsupported by RE2) and only affects
# how trailing whitespace groups — dropped for cross-engine parity.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_tokens(text: Column) -> Column:
    """BPE-ish pretokenization (GPT-2 split regex): the token stream a
    byte-pair encoder would merge within.  Counting these approximates
    LLM token cost far better than whitespace words (punctuation and
    digit runs become their own tokens).  Pure `regexp_extract_all`
    expression — JVM-side, narrow, no UDF."""
    return F.regexp_extract_all(text, F.lit(BPE_SPLIT_PATTERN), 0)


def word_shingles(toks: Column, n: int = 3) -> Column:
    """n-token shingles as space-joined strings; < n tokens → empty."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


# Tiny public stopword lists for the language-ID heuristic (top function
# words; public knowledge, any NLP textbook).
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "mit"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "du", "que"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "de", "en"),
}


def stopword_ratio(toks: Column, lang: str = "en") -> Column:
    """Fraction of tokens in the language's stopword list — exact
    int/int → double division (deterministic across engines)."""
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\p{Punct}]", "")
    return F.length(stripped).cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double")


def mean_token_length(toks: Column) -> Column:
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(toks: Column, text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + lexical diversity
    − punctuation noise.  All arithmetic on deterministic doubles."""
    n = F.size(toks).cast("double")
    diversity = F.size(F.array_distinct(toks)).cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")
    length_band = F.least(n / F.lit(100.0), F.lit(1.0))
    return F.round(
        F.least(
            F.greatest(
                F.lit(0.5) * length_band + F.lit(0.5) * diversity - punct_ratio(text),
                F.lit(0.0),
            ),
            F.lit(1.0),
        ),
        6,
    )


def lang_guess(toks: Column) -> Column:
    """Language-ID argmax: the language with the most stopword hits,
    ties broken alphabetically (deterministic).  Implemented as an
    array-of-structs sort so the whole argmax stays one codegen
    expression."""

    def hits(lang: str) -> Column:
        words = STOPWORDS[lang]
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    return F.element_at(
        F.array_sort(
            F.array(
                *[
                    F.struct((-hits(lang)).alias("a"), F.lit(lang).alias("l"))
                    for lang in sorted(STOPWORDS)
                ]
            )
        ),
        1,
    ).getField("l")


def dup_token_fraction(toks: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token —
    1 − distinct/total, the cheapest of the Gopher-style repetition
    signals (high values flag boilerplate/spam).  Pure array
    expression: narrow, no shuffle."""
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")
    return F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n


def fingerprint(toks: Column) -> Column:
    """Canonical document fingerprint: md5 over the sorted distinct
    token set — key for exact content dedup under token reordering."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))


def shingle_hashes(toks: Column, n: int = 5) -> Column:
    """Integer hash per n-token shingle (the rolling-hash stream over
    the document): 48-bit md5-prefix integers, portable — DuckDB mirrors
    each as CAST('0x' || substr(md5(s),1,12) AS BIGINT).  One md5 per
    shingle; pure array expression."""
    return F.transform(
        word_shingles(toks, n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long"),
    )


def winnow_mins(hashes: Column, w: int = 4) -> Column:
    """Window-min selection over a shingle-hash array — the winnowing
    core, split out so callers can MATERIALIZE the hash array as its own
    projection first.  Inside a higher-order-function lambda, closure
    expressions are re-evaluated per element: iterating window indices
    with the raw ``shingle_hashes(...)`` expression in the closure
    rebuilds the entire md5 array once per window (O(n^2) md5s / O(n^3)
    chars per document — measured 9.4 s vs ~0.6 s for the staged form on
    the sf0.1 corpus).  A bound column reference evaluates once per row,
    so pass one."""
    n = F.size(hashes)
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(n - w + 1, F.lit(1))),
        lambda i: F.array_min(F.slice(hashes, i, w)),
    )
    return F.when(n > 0, F.array_sort(F.array_distinct(mins))).otherwise(
        F.array().cast("array<long>")
    )


# PII scrub patterns: anchored, lookahead-free regexes (portable across
# Java regex and RE2-class engines).  Order matters — URLs before bare
# hostnames, emails before digit runs.
PII_PATTERNS = (
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # requires a separator char inside, so bare digit runs fall to <NUM>
    (r"\+?\d[\d().-]*[\s().-][\d\s().-]{4,}\d", "<PHONE>"),
    # card-LENGTH digit runs get the typed placeholder (a regex cannot
    # check Luhn — luhn_valid below is the validating detector)
    (r"\b\d{13,19}\b", "<CARD>"),
    (r"\b\d{6,}\b", "<NUM>"),
)


def redact_pii(text: Column) -> Column:
    """Replace URLs, emails, phone-shaped and long digit runs with typed
    placeholders — the standard scrub pass before training-corpus
    release.  Recall-leaning by design: separator-joined numeric
    sequences redact as <PHONE> even when they are merely number lists —
    the right trade for corpus scrubbing.  Chained ``regexp_replace``
    stays JVM-side (whole-stage codegen); no UDF."""
    out = text
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def luhn_valid(digits: Column) -> Column:
    """Luhn check (ISO/IEC 7812 mod-10) over a digit string — the
    validator that separates real card numbers from arbitrary
    card-length digit runs (PII_PATTERNS can only match the SHAPE).
    From the right: every second digit doubles, doubles above 9 drop 9,
    the total must be ≡ 0 mod 10.  Pure array expression
    (sequence/transform/aggregate) — codegen, no UDF; `sql_luhn` is the
    DuckDB mirror (bit-exact: all-integer)."""
    rev = F.reverse(digits)
    terms = F.transform(
        F.sequence(F.lit(1), F.length(digits)),
        lambda i: F.when(
            i % 2 == 0,
            F.substring(rev, i, F.lit(1)).cast("int") * 2
            - F.when(F.substring(rev, i, F.lit(1)).cast("int") > 4, 9).otherwise(0),
        ).otherwise(F.substring(rev, i, F.lit(1)).cast("int")),
    )
    total = F.aggregate(terms, F.lit(0), lambda acc, x: acc + x)
    return (F.length(digits) > 0) & (total % 10 == 0)


def sql_luhn(expr: str) -> str:
    """DuckDB restatement of ``luhn_valid`` over SQL expression ``expr``."""
    d = f"CAST(substring(reverse({expr}), i, 1) AS INT)"
    return (
        f"(length({expr}) > 0 AND "
        f"list_sum(list_transform(range(1, length({expr}) + 1), i -> "
        f"CASE WHEN i % 2 = 0 THEN {d} * 2 - CASE WHEN {d} > 4 THEN 9 ELSE 0 END "
        f"ELSE {d} END)) % 10 = 0)"
    )


def count_valid_cards(text: Column) -> Column:
    """Number of card-shaped digit runs in ``text`` that PASS the Luhn
    check — the validating side of the <CARD> scrub (detection runs on
    the raw text; redaction is shape-based).  One regexp extraction +
    one array filter, no UDF."""
    runs = F.regexp_extract_all(text, F.lit(r"\b(\d{13,19})\b"), F.lit(1))
    return F.size(F.filter(runs, luhn_valid))


# Gopher / MassiveText document-quality rules (Rae et al. 2021,
# Appendix A1.1) — the published heuristic battery nearly every later
# pipeline (RefinedWeb, Dolma, FineWeb) re-implements.  The stop-word
# arm uses Gopher's own 8-word list (distinct from the language-ID
# STOPWORDS above).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_flags(
    toks: Column,
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
) -> dict[str, Column]:
    """The Gopher rules as named boolean columns (TRUE = passes), each
    a pure array/string expression — narrow, codegen, no UDF, and
    restatable in DuckDB term for term (queries/text.py oracle):

    - g_words:    min_words <= word count <= max_words
    - g_mean_len: mean word length within [min_mean_len, max_mean_len]
    - g_symbol:   ('#' + '...') occurrences / words <= max_symbol_ratio
    - g_alpha:    >= min_alpha_frac of words contain a letter
    - g_stop:     >= min_stopwords DISTINCT Gopher stop words present
    - g_bullet:   <= max_bullet_frac of lines start with a bullet
    - g_ellipsis: <= max_ellipsis_frac of lines end with an ellipsis

    ``gopher_keep`` (below) is the conjunction.  Ratios are int/int
    IEEE divisions — bit-exact cross-engine.
    """
    n = F.size(toks)
    nd = F.greatest(n, F.lit(1)).cast("double")
    hash_count = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    dots_count = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / 3
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    )
    lines = F.split(text, "\n")
    nl = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullets = F.size(
        F.filter(
            lines,
            lambda l: F.substring(F.ltrim(l), 1, 1).isin("•", "-", "*"),
        )
    )
    ellipsis = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    )
    return {
        "g_words": (n >= min_words) & (n <= max_words),
        "g_mean_len": mean_token_length(toks).between(min_mean_len, max_mean_len),
        "g_symbol": ((hash_count + dots_count) / nd) <= max_symbol_ratio,
        "g_alpha": (alpha.cast("double") / nd) >= min_alpha_frac,
        "g_stop": stop_hits >= min_stopwords,
        "g_bullet": (bullets.cast("double") / nl) <= max_bullet_frac,
        "g_ellipsis": (ellipsis.cast("double") / nl) <= max_ellipsis_frac,
    }


def gopher_keep(toks: Column, text: Column, **kwargs) -> Column:
    """Conjunction of every Gopher flag — the document passes the full
    published battery."""
    flags = gopher_flags(toks, text, **kwargs)
    out = F.lit(True)
    for c in flags.values():
        out = out & c
    return out
