"""BPE merge learning (Sennrich, Haddow, Birch — "Neural Machine
Translation of Rare Words with Subword Units", ACL 2016) as DataFrame
plans: induce a subword-merge vocabulary from a corpus.

The scale insight that makes this cheap at 100 TB: BPE learning needs
only the WORD FREQUENCY TABLE — one `explode(tokens) -> groupBy(word)
.count()` pass over the corpus produces a table whose size is the
VOCABULARY (hundreds of thousands of rows), not the corpus.  Every
merge iteration then runs on that small table:

1. explode each word's adjacent symbol pairs, weighted by word count,
   and take the globally most frequent pair (count desc, pair-lex asc
   tiebreak — fully deterministic);
2. rewrite each word's symbol array, fusing every occurrence of that
   pair (a single ``aggregate`` fold per word — narrow, no shuffle).

Iterations are driver-coordinated (one tiny ``first()`` per merge, the
same shape as k-means' fixed point), with ``localCheckpoint`` per round
to keep lineage flat.  The learned merge list IS the tokenizer
artifact; `apply_merges` replays it on any text column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END = "</w>"  # word-terminal marker (distinguishes "ing</w>" from "ing")


def word_freq_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus pass -> (word, n) — everything BPE learning needs."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _initial_symbols(word: F.Column) -> F.Column:
    """word -> [c1, c2, ..., ck, '</w>'] (character symbols + terminal)."""
    return F.concat(F.split(word, ""), F.array(F.lit(END)))


def _adjacent_pairs(sym: F.Column) -> F.Column:
    """[(s_i, s_i+1)] as 'a b' strings (space-joined; symbols never
    contain spaces because words are whitespace-split)."""
    n = F.size(sym)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(sym, i), F.element_at(sym, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _fuse_pair(sym: F.Column, left: str, right: str) -> F.Column:
    """Fuse every (left, right) adjacency left-to-right in one fold.

    The accumulator is the output array; a lookahead flag is encoded by
    the last element already holding the fused symbol: append `cur`,
    unless the previous output element is `left` and `cur` is `right`
    AND that `left` wasn't itself just produced by a fuse — BPE fuses
    leftmost-first, non-overlapping, which the classic fold gives when
    the fused symbol `left+right` differs from `left` (guaranteed:
    `right` is non-empty)."""
    fused = left + right
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, cur: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (cur == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(fused))),
        ).otherwise(F.concat(acc, F.array(cur))),
    )


def learn_merges(
    words: DataFrame, n_merges: int = 50, min_pair_count: int = 2
) -> list[tuple[str, str, int]]:
    """Learn up to ``n_merges`` merges from a (word, n) frequency table.

    Returns [(left, right, pair_count), ...] in merge order.  Stops
    early when no pair reaches ``min_pair_count``.  Deterministic:
    ties on count break by pair string ascending.
    """
    state = words.select(
        F.col("n"), _initial_symbols(F.col("word")).alias("sym")
    ).localCheckpoint()
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            state.select("n", F.explode(_adjacent_pairs(F.col("sym"))).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("n").alias("c"))
            .orderBy(F.desc("c"), "pair")
            .first()
        )
        if top is None or top["c"] < min_pair_count:
            break
        left, right = top["pair"].split(" ", 1)
        merges.append((left, right, int(top["c"])))
        if len(merges) == n_merges:
            break  # no later merge reads the fused state
        state = state.select(
            "n", _fuse_pair(F.col("sym"), left, right).alias("sym")
        ).localCheckpoint()
    return merges


def apply_merges(
    df: DataFrame, merges: list[tuple[str, str, int]], text_col: str = "text",
    out_col: str = "bpe_symbols",
) -> DataFrame:
    """Tokenize a text column with a learned merge list: per word,
    start from character symbols and replay the merges in order — the
    exact encoder the learned vocabulary defines.  One narrow
    projection; the merge replay is a chain of per-word folds."""
    return df.select(
        "*",
        F.flatten(
            F.transform(
                F.filter(F.split(F.col(text_col), " "), lambda w: w != ""),
                lambda w: _replay(w, merges),
            )
        ).alias(out_col),
    )


def _replay(word, merges: list[tuple[str, str, int]]):
    sym = _initial_symbols(word)
    for left, right, _ in merges:
        sym = _fuse_pair(sym, left, right)
    return sym


# -------------------------------------------------- vocab + id encoding


def build_vocab(encoded: DataFrame, sym_col: str = "bpe_symbols") -> DataFrame:
    """Token-id table ``(token, token_id)`` from an encoded corpus:
    ids are contiguous 0..V-1, assigned by corpus frequency (desc) with
    lexicographic tiebreak — fully deterministic, GPT-2-style
    frequency-ranked ids.

    The window runs over the VOCABULARY table (bounded — ~10^5 rows at
    any corpus size), not the corpus, so the single-partition ranking
    window is safe by construction; the corpus-sized work is the one
    explode+count pass."""
    from pyspark.sql import Window

    counts = (
        encoded.select(F.explode(F.col(sym_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    w = Window.orderBy(F.col("__n").desc(), F.col("token"))
    return counts.select(
        "token", (F.row_number().over(w) - 1).cast("long").alias("token_id")
    )


def encode_ids(
    encoded: DataFrame,
    vocab: DataFrame,
    id_col: str,
    sym_col: str = "bpe_symbols",
    out_col: str = "token_ids",
) -> DataFrame:
    """Symbols -> id arrays, distributed: posexplode the symbol axis,
    broadcast-join the vocabulary, re-assemble in position order.  One
    shuffle (the groupBy re-assembly); the vocab is broadcast, never a
    driver-side map literal.  Unknown symbols (text outside the
    training distribution) fail loudly: the vocab is LEFT-joined and a
    null ``token_id`` raises at execution time via ``raise_error`` —
    no token is ever silently dropped mid-sequence, and the check costs
    zero extra passes (vs. a row-count contract, which would rescan the
    corpus twice) — callers extend the vocab or pre-filter."""
    melted = encoded.select(
        F.col(id_col), F.posexplode(F.col(sym_col)).alias("__pos", "token")
    )
    joined = melted.join(F.broadcast(vocab), "token", "left").withColumn(
        "token_id",
        F.when(
            F.col("token_id").isNull(),
            F.raise_error(
                F.concat(F.lit("encode_ids: unknown BPE symbol "), F.col("token"))
            ).cast("long"),
        ).otherwise(F.col("token_id")),
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__pos"), F.col("token_id")))
            ).alias("__pairs")
        )
        .select(
            id_col,
            F.transform(F.col("__pairs"), lambda p: p.getField("token_id")).alias(
                out_col
            ),
        )
    )


def decode_ids(
    ids_df: DataFrame,
    vocab: DataFrame,
    id_col: str,
    ids_col: str = "token_ids",
    out_col: str = "text",
) -> DataFrame:
    """Inverse of ``encode_ids`` + symbol concatenation: id arrays back
    to the original text (lossless round trip — asserted in tests).
    Same plan shape: posexplode, broadcast join, ordered re-assembly."""
    melted = ids_df.select(
        F.col(id_col), F.posexplode(F.col(ids_col)).alias("__pos", "token_id")
    )
    joined = melted.join(F.broadcast(vocab), "token_id", "inner")
    return (
        joined.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__pos"), F.col("token")))
            ).alias("__pairs")
        )
        .select(
            id_col,
            F.rtrim(
                F.replace(
                    F.concat_ws(
                        "", F.transform(F.col("__pairs"), lambda p: p.getField("token"))
                    ),
                    F.lit(END),
                    F.lit(" "),
                )
            ).alias(out_col),
        )
    )
