"""Decontamination + winnowing-fingerprint tests: planted-overlap
goldens, a pure-Python winnowing reference, a DuckDB component-level
oracle over the sf0.001 documents table, and the broadcast plan shape.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mongo2mysql_spark.functions.text import shingle_hashes, tokens, winnow_mins
from mongo2mysql_spark.operators.decontam import (
    contamination_profile,
    remove_contaminated,
)
from mongo2mysql_spark.sources.parquet import load_table
from tests.oracle_utils import compare, duck_connection

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    eval_q = "what is the capital of france and when was it founded exactly"
    rows = [
        # verbatim eval-set leak
        Row(doc_id=1, text="intro text " + eval_q + " trailing words here"),
        # clean doc, no 8-gram overlap
        Row(doc_id=2, text="spark engines shuffle partitions across many executors at scale"),
        # too short for any 8-gram
        Row(doc_id=3, text="tiny doc"),
    ]
    bench = [Row(bench_id=100, text=eval_q)]
    return spark.createDataFrame(rows), spark.createDataFrame(bench)


def test_contamination_planted(corpus):
    docs, bench = corpus
    prof = {
        r["doc_id"]: r
        for r in contamination_profile(docs, bench, n=8).collect()
    }
    assert set(prof) == {1, 2, 3}  # every input doc gets a row
    assert prof[1]["contaminated"] and prof[1]["n_contaminated"] > 0
    assert not prof[2]["contaminated"] and prof[2]["n_contaminated"] == 0
    assert not prof[3]["contaminated"] and prof[3]["n_shingles"] == 0


def test_remove_contaminated_scrubs_only_leaks(corpus):
    docs, bench = corpus
    kept = sorted(r["doc_id"] for r in remove_contaminated(docs, bench, n=8).collect())
    assert kept == [2, 3]


def test_min_overlap_frac_threshold(corpus):
    docs, bench = corpus
    # doc 1 is only partially overlapping: a 100% threshold clears it
    prof = {
        r["doc_id"]: r["contaminated"]
        for r in contamination_profile(docs, bench, n=8, min_overlap_frac=1.0).collect()
    }
    assert not prof[1]


def test_contamination_join_is_broadcast(corpus):
    docs, bench = corpus
    plan = contamination_profile(docs, bench, n=8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def _winnow_ref(toks: list[str], k: int, w: int) -> list[int]:
    shingles = [" ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 0))]
    hashes = [int(hashlib.md5(s.encode()).hexdigest()[:12], 16) for s in shingles]
    if not hashes:
        return []
    mins = [min(hashes[i : i + w]) for i in range(max(len(hashes) - w + 1, 1))]
    return sorted(set(mins))


def _winnow(toks, k, w):
    """Winnowing fingerprints of a token array, as the slots compose them."""
    return winnow_mins(shingle_hashes(toks, k), w)


def test_winnow_matches_python_reference(spark):
    docs = load_table(spark, SF, "documents").limit(20)
    got = docs.select(
        "doc_id", _winnow(tokens(F.col("text")), k=5, w=4).alias("fp")
    ).collect()
    raw = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(got) == 20
    for r in got:
        assert list(r["fp"]) == _winnow_ref(raw[r["doc_id"]].split(" "), 5, 4)


def test_winnow_edge_cases(spark):
    rows = [
        Row(doc_id=1, text=""),  # empty
        Row(doc_id=2, text="a b c"),  # shorter than k
        Row(doc_id=3, text="a b c d e f"),  # fewer shingles than w
    ]
    out = {
        r["doc_id"]: list(r["fp"])
        for r in spark.createDataFrame(rows)
        .select("doc_id", _winnow(F.split("text", " "), k=5, w=4).alias("fp"))
        .collect()
    }
    assert out[1] == []
    assert out[2] == []
    # 2 shingles < w → exactly one fingerprint: the global min
    assert len(out[3]) == 1
    assert out[3] == _winnow_ref("a b c d e f".split(" "), 5, 4)


def test_winnow_shift_invariance(spark):
    """A shared run of >= w+k-1 tokens guarantees a shared fingerprint
    even when its position differs — the winnowing paper's core
    property, and why this beats the sorted-token-set fingerprint for
    plagiarism-style matching."""
    common = "one two three four five six seven eight nine ten"
    rows = [
        Row(doc_id=1, text=common + " unrelated tail words here"),
        Row(doc_id=2, text="different prefix words entirely " + common),
    ]
    out = {
        r["doc_id"]: set(r["fp"])
        for r in spark.createDataFrame(rows)
        .select("doc_id", _winnow(F.split("text", " "), k=5, w=4).alias("fp"))
        .collect()
    }
    assert out[1] & out[2]


N = 8
DECONTAM_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - {N} + 1, 0) + 1),
           i -> CAST('0x' || substr(md5(array_to_string(list_slice(t, i, i + {N} - 1), ' ')), 1, 12) AS BIGINT)
         )) AS hs
  FROM tok),
ex AS (SELECT doc_id, unnest(hs) AS h FROM sh),
bench AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id % 97 = 0),
prof AS (
  SELECT e.doc_id, count(*) AS c, count(b.h) AS hits
  FROM ex e LEFT JOIN bench b ON e.h = b.h
  GROUP BY e.doc_id)
SELECT d.doc_id,
       coalesce(p.c, 0) AS n_shingles,
       coalesce(p.hits, 0) AS n_contaminated,
       CASE WHEN coalesce(p.c, 0) > 0
            THEN CAST(coalesce(p.hits, 0) AS DOUBLE) / CAST(p.c AS DOUBLE)
            ELSE 0.0 END AS contamination_frac,
       coalesce(p.hits, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents) d
LEFT JOIN prof p ON d.doc_id = p.doc_id
"""


def test_contamination_profile_duckdb_oracle(spark):
    """Component-level cross-engine check (same contract as the driver's
    gate): profile the sf0.001 corpus against the doc_id % 97 == 0
    subset as a stand-in benchmark — members overlap themselves 100%,
    near-dups overlap partially, the rest are clean."""
    docs = load_table(spark, SF, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    out = contamination_profile(docs, bench, n=N)
    con = duck_connection(SF)
    assert compare(out, con, DECONTAM_ORACLE) == []


def test_bpe_pattern_parity_spark_vs_duckdb(spark):
    """The profile oracle depends on BPE_SPLIT_PATTERN meaning the same
    thing to Java regex and RE2.  Fuzz the shared-subset claim: seeded
    random strings over letters (incl. accented/CJK), digits,
    punctuation, apostrophe-contractions, and whitespace runs must
    tokenize identically in both engines."""
    import random

    import duckdb

    from mongo2mysql_spark.functions.text import BPE_SPLIT_PATTERN, bpe_tokens

    rng = random.Random(20260813)
    alphabets = [
        "abcdefgh", "ABC", "äöüßéñ", "漢字かな", "0123456789",
        ".,;:!?%-()[]", "'", " ", "  \t", "\n",
    ]
    pieces = ["'s", "'t", "'re", "'ll", "don't", "it's", "we've"]
    strings = []
    for _ in range(300):
        n = rng.randint(0, 12)
        s = "".join(
            rng.choice(pieces)
            if rng.random() < 0.2
            else "".join(rng.choice(rng.choice(alphabets)) for _ in range(rng.randint(1, 6)))
            for _ in range(n)
        )
        strings.append(s)

    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)], "i: int, s: string")
    got = {
        r["i"]: list(r["t"])
        for r in df.select("i", bpe_tokens(F.col("s")).alias("t")).collect()
    }
    con = duckdb.connect()
    for i, s in enumerate(strings):
        want = con.execute(
            "SELECT regexp_extract_all(?, ?)", [s, BPE_SPLIT_PATTERN]
        ).fetchone()[0]
        assert got[i] == want, f"{s!r}: spark={got[i]} duckdb={want}"


def test_pii_pattern_parity_spark_vs_duckdb(spark):
    """text_profile_pii's pii-branch oracle chains the SAME regexes through DuckDB
    regexp_replace, so the patterns must mean the same thing to Java
    regex and RE2.  Fuzz the shared-subset claim over seeded strings
    mixing real PII shapes, near-misses, and noise."""
    import random

    import duckdb

    from mongo2mysql_spark.functions.text import PII_PATTERNS, redact_pii

    rng = random.Random(20260814)
    pieces = [
        "visit https://a.example.com/x?q=1 now",
        "http://bare.host/path,trailing",
        "mail a.b-c+d@sub.domain.org today",
        "not-an-email @domain.com",
        "call +1 (555) 010-4242 or",
        "numbers 12345 123456 1234567,",
        "dashed 555-010-4242 555.010.4242",
        "ip 10.0.0.1 port 8080;",
        "plain words only here",
        "unicode naïve café 漢字",
        "parens (123) 456 7890 end",
        "short 1-2 3-4",
    ]
    strings = [
        " ".join(rng.choice(pieces) for _ in range(rng.randint(1, 6)))
        for _ in range(200)
    ]

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "i: int, s: string"
    )
    got = {
        r["i"]: r["red"]
        for r in df.select("i", redact_pii(F.col("s")).alias("red")).collect()
    }
    con = duckdb.connect()
    expr = "?"
    params_tail = []
    for pattern, token in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pattern}', '{token}', 'g')"
    for i, s in enumerate(strings):
        want = con.execute(f"SELECT {expr}", [s]).fetchone()[0]
        assert got[i] == want, f"{s!r}:\n spark={got[i]!r}\n duck ={want!r}"


def test_winnow_property_fuzz_vs_python_reference(spark):
    """Hypothesis-style seeded fuzz (fixed corpus, one Spark job): the
    staged winnow pipeline equals the pure-Python reference on random
    token lists across the k/w boundary regimes (empty, < k, < w+k-1,
    repeated tokens, long)."""
    import random

    from pyspark.sql import Row

    rng = random.Random(20260815)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(120):
        n = rng.choice([0, 1, 3, 4, 5, 7, 8, 9, 20, rng.randint(0, 60)])
        rows.append(Row(doc_id=i, text=" ".join(rng.choice(vocab) for _ in range(n))))
    out = {
        r["doc_id"]: list(r["fp"])
        for r in spark.createDataFrame(rows)
        .select("doc_id", _winnow(F.split("text", " "), k=5, w=4).alias("fp"))
        .collect()
    }
    for row in rows:
        toks = row.text.split(" ") if row.text else [""]
        assert out[row.doc_id] == _winnow_ref(toks, 5, 4), (row.doc_id, row.text)
