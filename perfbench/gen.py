"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same
arguments give the same documents, byte for byte.  Each one also
returns what the output checks need to know in advance (expected
destination-table row counts, injected duplicate counts, ...), so a
check never trusts a count the program itself emitted.

The generators use only the standard library, NumPy and PyArrow; they
never touch Spark, so input generation is kept out of every timing.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ``_key`` templates of the events collection, most frequent first, with
# the destination table the porter's routing rules send each one to.
KEY_TEMPLATES: tuple[tuple[str, str], ...] = (
    ("user:{n}", "user"),
    ("post:{n}", "post"),
    ("topic:{n}:posts", "topic_posts"),
    ("tag:{w}:topics", "tag_topics"),
    ("uid:{n}:followed", "uid_followed"),
)
ZIPF_S = 1.1

_SYLLABLES = (
    "ka", "lo", "mi", "ra", "te", "su", "no", "vi", "de", "pa",
    "go", "ri", "ze", "tu", "ma", "be", "xo", "fi", "la", "qu",
)


def _vocab(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct lower-case letter-only words."""
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _zipf_choice(rng: random.Random, n: int) -> int:
    weights = [1.0 / (i + 1) ** ZIPF_S for i in range(n)]
    return rng.choices(range(n), weights=weights)[0]


# --------------------------------------------------------------- migrate


def _order(rng: random.Random, oid: int, words: list[str]) -> dict:
    """One Mongo-shaped order: a nested ``meta`` struct and an ``items``
    array of structs, empty for about one order in five."""
    n_items = 0 if rng.random() < 0.2 else rng.randint(1, 4)
    return {
        "_id": oid,
        "custkey": rng.randint(1, 5000),
        "status": rng.choice("OFP"),
        "total": round(rng.uniform(10, 5000), 2),
        "odate": (dt.date(1995, 1, 1) + dt.timedelta(days=rng.randint(0, 1500))).isoformat(),
        "meta": {
            "channel": rng.choice(("web", "store", "phone")),
            "priority": rng.randint(1, 5),
            "geo": {"country": rng.choice(words[:20]), "zone": rng.randint(1, 9)},
        },
        "items": [
            {"sku": rng.randint(1, 20000), "qty": rng.randint(1, 9),
             "price": round(rng.uniform(1, 500), 2)}
            for _ in range(n_items)
        ],
    }


ORDER_SCHEMA = pa.schema([
    ("_id", pa.int64()),
    ("custkey", pa.int64()),
    ("status", pa.string()),
    ("total", pa.float64()),
    ("odate", pa.string()),
    ("meta", pa.struct([
        ("channel", pa.string()),
        ("priority", pa.int64()),
        ("geo", pa.struct([("country", pa.string()), ("zone", pa.int64())])),
    ])),
    ("items", pa.list_(pa.struct([
        ("sku", pa.int64()), ("qty", pa.int64()), ("price", pa.float64()),
    ]))),
])
EVENT_SCHEMA = pa.schema([
    ("_id", pa.int64()),
    ("_key", pa.string()),
    ("user_id", pa.int64()),
    ("kind", pa.string()),
    ("value", pa.float64()),
    ("ts", pa.timestamp("us")),
])
DOCUMENT_SCHEMA = pa.schema([
    ("_id", pa.int64()),
    ("title", pa.string()),
    ("body", pa.string()),
    ("tags", pa.list_(pa.string())),
])


def migrate_inputs(
    seed: int, out_dir: str, n_orders: int, n_events: int, n_docs: int, n_new: int
) -> dict:
    """Write the ``orders``, ``events`` and ``documents`` collections as
    parquet under ``out_dir`` and return the expectations:

    - ``tables``: destination table -> row count of the bulk export
      (parents and ``<collection>__<array>`` children);
    - ``orders``: the bulk orders as plain, JSON-safe dicts;
    - ``new_orders``: ``n_new`` further orders for the catch-up sync,
      with ids above every bulk id;
    - ``docs`` / ``bytes`` / ``rows``: input size of the bulk phase and
      the destination rows it must produce.
    """
    rng = random.Random(seed)
    words = _vocab(rng, 120)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, int] = {}

    orders = [_order(rng, i + 1, words) for i in range(n_orders)]
    tables["orders"] = n_orders
    tables["orders__items"] = sum(len(o["items"]) for o in orders)

    t0 = dt.datetime(2024, 1, 1)
    events = []
    for i in range(n_events):
        tmpl, table = KEY_TEMPLATES[_zipf_choice(rng, len(KEY_TEMPLATES))]
        key = tmpl.format(n=rng.randint(1, 10**6), w=rng.choice(words))
        events.append({
            "_id": i + 1,
            "_key": key,
            "user_id": rng.randint(1, 5000),
            "kind": rng.choice(("view", "click", "buy", "share")),
            "value": round(rng.uniform(0, 100), 3),
            "ts": t0 + dt.timedelta(seconds=rng.randint(0, 86400 * 90),
                                    microseconds=rng.randint(0, 999999)),
        })
        tables[table] = tables.get(table, 0) + 1

    documents = []
    for i in range(n_docs):
        documents.append({
            "_id": i + 1,
            "title": " ".join(rng.choices(words, k=rng.randint(2, 5))),
            "body": " ".join(rng.choices(words, k=rng.randint(10, 40))),
            "tags": rng.sample(words, rng.randint(0, 5)),
        })
    tables["documents"] = n_docs
    tables["documents__tags"] = sum(len(d["tags"]) for d in documents)

    n_bytes = 0
    for name, rows, schema in (
        ("orders", orders, ORDER_SCHEMA),
        ("events", events, EVENT_SCHEMA),
        ("documents", documents, DOCUMENT_SCHEMA),
    ):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
        n_bytes += os.path.getsize(path)

    return {
        "tables": tables,
        "orders": orders,
        "new_orders": [_order(rng, n_orders + 1 + i, words) for i in range(n_new)],
        "docs": n_orders + n_events + n_docs,
        "bytes": n_bytes,
        "rows": sum(tables.values()),
    }


class FakeCursor:
    """The slice of a pymongo cursor that ``iter_collection_batches``
    uses: ``sort``, ``batch_size`` and iteration."""

    def __init__(self, docs: list[dict]):
        self._docs = docs

    def sort(self, field: str, direction: int = 1) -> FakeCursor:
        self._docs = sorted(self._docs, key=lambda d: d[field], reverse=direction < 0)
        return self

    def batch_size(self, n: int) -> FakeCursor:
        return self

    def __iter__(self):
        return iter(self._docs)


class FakeCollection:
    """An in-memory pymongo-shaped collection.  ``find`` understands the
    two query shapes a high-water sync issues, ``{}`` and
    ``{field: {"$gt": value}}``, and records every query it was given."""

    def __init__(self, docs: list[dict]):
        self.docs = list(docs)
        self.queries: list[dict] = []

    def find(self, query: dict | None = None) -> FakeCursor:
        query = query or {}
        self.queries.append(query)
        docs = self.docs
        for field, cond in query.items():
            if not (isinstance(cond, dict) and set(cond) == {"$gt"}):
                raise ValueError(f"unsupported query on {field!r}: {cond!r}")
            docs = [d for d in docs if field in d and d[field] > cond["$gt"]]
        return FakeCursor(docs)


# ---------------------------------------------------------- corpus_build


PASSAGE_WORDS, PASSAGE_OWN_WORDS = 50, 12
NEAR_DUP_MIN_WORDS = 70


def corpus_inputs(seed: int, out_dir: str, n_base: int, n_bench: int = 8) -> dict:
    """Write a perturbed document corpus (``doc_id``, ``text``) and a
    small benchmark set as parquet under ``out_dir``.

    On top of ``n_base`` distinct documents of 40-90 distinct words the
    generator injects known numbers of

    - exact duplicates: copies of another document's text;
    - near duplicates: a document of ``NEAR_DUP_MIN_WORDS`` or more
      words with one word it lacks appended.  Their word-3-shingle Jaccard with
      the original is at least 0.985, far above near-dedup's 0.7;
    - passage documents: ``PASSAGE_OWN_WORDS`` words of their own
      around one shared ``PASSAGE_WORDS``-word passage, so that
      passage-dedup's containment (about 0.8) clears its 0.6 cut;
    - contaminated documents: 12 words of a benchmark text appended,
      more than decontamination's 8-gram.

    The perturbations touch disjoint base documents, and every document
    passes the default quality filter.  Returns the input size, a digest
    of the written inputs, the injected counts and ``stages``: for each
    stage count of the corpus report, the ``(low, high)`` range it must
    fall in."""
    rng = random.Random(seed)
    words = _vocab(rng, 400)
    base = [
        " ".join(rng.sample(words, rng.randint(40, 90))) for _ in range(n_base)
    ]
    bench = [" ".join(rng.sample(words, 40)) for _ in range(n_bench)]
    passage = " ".join(rng.sample(words, PASSAGE_WORDS))

    texts = list(base)
    n_exact = n_base // 10
    n_near = n_base // 10
    n_passage = n_base // 20
    n_contam = n_base // 25
    half = PASSAGE_OWN_WORDS // 2
    for i in range(n_passage):
        toks = base[i].split(" ")
        texts[i] = " ".join(toks[:half] + [passage] + toks[half:PASSAGE_OWN_WORDS])
    for i in range(n_contam):
        j = n_passage + i
        texts[j] = texts[j] + " " + " ".join(bench[i % n_bench].split(" ")[:12])
    # duplicates copy only documents the two passes above left untouched
    untouched = base[n_passage + n_contam:]
    long_untouched = [t for t in untouched if t.count(" ") + 1 >= NEAR_DUP_MIN_WORDS]
    for _ in range(n_exact):
        texts.append(rng.choice(untouched))
    # each from another original, with a word new to it: exact dedup
    # fingerprints the set of words
    for text in rng.sample(long_untouched, n_near):
        own = set(text.split(" "))
        texts.append(text + " " + rng.choice([w for w in words if w not in own]))
    order = list(range(len(texts)))
    rng.shuffle(order)
    rows = [{"doc_id": i, "text": texts[k]} for i, k in enumerate(order)]
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    digest = hashlib.sha256()
    for name, table_rows in (
        ("docs", rows),
        ("bench", [{"doc_id": 10**9 + i, "text": t} for i, t in enumerate(bench)]),
    ):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pylist(table_rows, schema=schema), path)
        with open(path, "rb") as fh:
            digest.update(fh.read())

    n_input = len(rows)
    after_exact = n_input - n_exact
    after_passage = after_exact - n_near - (n_passage - 1)
    stages = {
        "input_docs": (n_input, n_input),
        "after_quality_filter": (n_input, n_input),
        "after_exact_dedup": (after_exact, after_exact),
        # passage documents are alike enough that near-dedup may take
        # some of them before passage-dedup does; the two passes
        # together keep one of them
        "after_near_dedup": (after_passage, after_exact - n_near),
        "after_passage_dedup": (after_passage, after_passage),
        "after_decontam": (after_passage - n_contam, after_passage - n_contam),
    }
    return {
        "docs": n_input,
        "bytes": sum(len(t.encode()) for t in texts),
        "input_digest": digest.hexdigest(),
        "exact_dups": n_exact,
        "near_dups": n_near,
        "passage_docs": n_passage,
        "contaminated": n_contam,
        "stages": stages,
    }


# ------------------------------------------------------------ ann_search


QUERY_ID0 = 10**6  # id of the first query vector


def ann_inputs(
    seed: int, out_dir: str, n: int, dim: int, n_clusters: int, n_queries: int
) -> dict:
    """Clustered embeddings: ``n`` corpus vectors (ids ``0..n-1``) and
    ``n_queries`` query vectors (ids from ``QUERY_ID0``) drawn from the
    same Gaussian mixture, written as parquet (``vec_id``,
    ``embedding``) and returned as arrays for the recall oracle."""
    rs = np.random.default_rng(seed)
    centers = rs.normal(0.0, 1.0, size=(n_clusters, dim))

    def draw(m: int) -> np.ndarray:
        lab = rs.integers(0, n_clusters, size=m)
        return (centers[lab] + 0.45 * rs.normal(0.0, 1.0, size=(m, dim))).astype(np.float32)

    corpus, queries = draw(n), draw(n_queries)
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])
    for name, ids, vecs in (
        ("corpus", range(n), corpus),
        ("queries", range(QUERY_ID0, QUERY_ID0 + n_queries), queries),
    ):
        table = pa.Table.from_pydict(
            {"vec_id": list(ids), "embedding": [v.tolist() for v in vecs]}, schema=schema
        )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {
        "corpus": corpus, "queries": queries,
        "docs": n, "n_queries": n_queries, "bytes": int(corpus.nbytes + queries.nbytes),
    }
