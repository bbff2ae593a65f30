"""BPE vocabulary induction + subword tokenization for training-data
pipelines (engine-original; the reference has no tokenizer — this
extends the training-data suite alongside token counting in
``text_stats.py``).

Scale design (the 100-TB shape):

* The only corpus-sized stage is **one word-count shuffle**
  (explode → groupBy → sum), which Spark partial-aggregates map-side;
  the shuffled rows are (word, partial_count), never documents.
* Merge learning runs on the **top-K word-frequency table** (bounded
  collect, default 50k rows). By Zipf/Heaps, the head of the word
  distribution determines every early merge; the cap bounds driver
  memory regardless of corpus size, and is the same compromise the
  standard BPE implementations make (Sennrich et al. 2016 learn from
  a word-frequency dict, not the raw corpus).
* Tokenization is a single Arrow-batched stage (``mapInPandas``-class
  pandas UDF) with a per-batch word→tokens memo — Zipf again: the
  overwhelming majority of word occurrences hit the cache, so the
  per-word merge loop runs roughly once per *distinct* word per
  batch, not once per occurrence.

Algorithm: Sennrich-style merges (word → character symbols + ``</w>``
end marker; repeatedly merge the most frequent adjacent pair) with a
deterministic tie-break (highest count, then lexicographically
smallest pair) so training is reproducible across runs and partition
layouts. Application is the GPT-2-style lowest-rank greedy loop.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from .text_stats import BPE_SPLIT_PATTERN

#: marks the end of a word; its own symbol, per the original BPE paper
END_OF_WORD = "</w>"


# --------------------------------------------------------------------------
# distributed stage 1: word counts (the only corpus-sized shuffle)
# --------------------------------------------------------------------------

def pre_tokens(text: Column | str) -> Column:
    """BPE pre-tokenization: letter / digit / punctuation runs
    (``BPE_SPLIT_PATTERN``), whitespace discarded. SQL-reproducible
    via ``regexp_extract_all`` (same pattern as ``bpe_token_count``)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(col, F.lit(BPE_SPLIT_PATTERN), F.lit(0))


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word-frequency table ``(word, freq)``.

    One explode + one groupBy: Spark's partial aggregation combines
    counts map-side, so the shuffle carries (word, partial_count)
    pairs — bounded by per-partition *vocabulary*, not corpus size.

    The regexp explode is the expensive map side, so it gets the same
    small-input parallelism guard as ``bpe_tokenize``: a corpus in
    fewer files than cores would otherwise tokenize in that many
    tasks (one, for the single-file bench tables); at real scale the
    scan has ≥ cores splits and the guard is a no-op."""
    from solrizer_spark.operators.repartition import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    return (
        df.select(F.explode(pre_tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def top_words(df: DataFrame, text_col: str = "text", k: int = 50_000) -> DataFrame:
    """Top-``k`` words by frequency, word-ascending tie-break — the
    deterministic, bounded input to merge learning."""
    return word_counts(df, text_col).orderBy(F.desc("freq"), F.asc("word")).limit(k)


# --------------------------------------------------------------------------
# driver stage 2: merge learning (bounded by top-k, not corpus)
# --------------------------------------------------------------------------

def learn_bpe(
    word_freqs: Iterable[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """Learn up to ``num_merges`` BPE merges from a word-frequency
    table. Pure driver-side Python over the (capped) vocabulary;
    deterministic: ties broken by lexicographically smallest pair.

    Stops early when no adjacent pair occurs twice — merging a
    count-1 pair would just memorize single words."""
    # word list + incrementally maintained pair counts: each merge
    # touches only the words CONTAINING the merged pair (indexed via
    # pair_words), so training is ~O(merges · affected-word length),
    # not O(merges · vocab) — the full-recount form is quadratic at
    # the 50k-word / 1k-merge defaults (review finding). Count updates
    # are commutative integer adds, so iteration order over the
    # affected set cannot change the result; selection stays the
    # deterministic (max count, lexicographically smallest) rule.
    agg: dict[tuple[str, ...], int] = {}
    for word, freq in word_freqs:
        if word:
            key = tuple(word) + (END_OF_WORD,)
            agg[key] = agg.get(key, 0) + int(freq)
    words: list[list] = [[list(k), f] for k, f in agg.items()]

    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}

    def add_word(wi: int, sign: int) -> None:
        symbols, freq = words[wi]
        for a, b in zip(symbols, symbols[1:]):
            p = (a, b)
            c = pair_counts.get(p, 0) + sign * freq
            if c:
                pair_counts[p] = c
            else:
                pair_counts.pop(p, None)
            if sign > 0:
                pair_words.setdefault(p, set()).add(wi)

    for wi in range(len(words)):
        add_word(wi, +1)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        if not pair_counts:
            break
        pair, count = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if count < 2:
            break
        merges.append(pair)
        merged = pair[0] + pair[1]
        for wi in pair_words.pop(pair, set()):
            symbols = words[wi][0]
            if pair not in zip(symbols, symbols[1:]):
                continue  # stale index entry (word since rewritten)
            add_word(wi, -1)
            out: list[str] = []
            i = 0
            while i < len(symbols):
                if (
                    i + 1 < len(symbols)
                    and symbols[i] == pair[0]
                    and symbols[i + 1] == pair[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(symbols[i])
                    i += 1
            words[wi][0] = out
            add_word(wi, +1)
    # Each merge's product string must be unique across the list: a
    # duplicate product (same string reachable via two decompositions,
    # e.g. 'ab'+'c' and 'a'+'bc') is the one case where the engine's
    # lowest-rank-anywhere greedy loop and the oracle's ascending-rank
    # fixpoint replay could diverge. Standard BPE cannot learn one
    # (the first merge removes the adjacent pair the second would
    # need), so a violation means corrupted training state.
    products = [a + b for a, b in merges]
    assert len(set(products)) == len(products), (
        "duplicate merge product(s): "
        f"{sorted({p for p in products if products.count(p) > 1})}"
    )
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 1000,
    top_k: int = 50_000,
) -> list[tuple[str, str]]:
    """End-to-end training: distributed word count → bounded top-k
    collect → driver merge learning. The collect is ≤ ``top_k`` short
    rows by construction — safe at any corpus size."""
    freqs = [(r["word"], r["freq"]) for r in top_words(df, text_col, top_k).collect()]
    return learn_bpe(freqs, num_merges)


# --------------------------------------------------------------------------
# distributed stage 3: tokenization (one Arrow stage, word-memoized)
# --------------------------------------------------------------------------

def apply_bpe(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Segment one word with learned merges — GPT-2-style greedy
    lowest-rank loop. ``ranks`` maps pair → merge priority."""
    symbols: list[str] = list(word) + [END_OF_WORD]
    while len(symbols) > 1:
        best_rank = None
        best_i = -1
        for i, pair in enumerate(zip(symbols, symbols[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_i = i
        if best_rank is None:
            break
        symbols[best_i : best_i + 2] = [symbols[best_i] + symbols[best_i + 1]]
    return symbols


def bpe_tokenize(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Add ``out_col: array<string>`` — the BPE token stream of
    ``text_col`` under ``merges``. One Arrow-batched pandas UDF; the
    merge table rides the closure (small — it IS the vocabulary), and
    a per-batch word→tokens memo collapses repeated words to dict
    lookups. Null text → null tokens."""
    import re

    ranks = {tuple(p): i for i, p in enumerate(merges)}
    # re.ASCII: Java's \s (used at training time by regexp_extract_all
    # in word_counts) is ASCII-only, Python's is Unicode — without the
    # flag the two stages would pre-tokenize NBSP-bearing text
    # differently
    pattern = re.compile(BPE_SPLIT_PATTERN, re.ASCII)

    @F.pandas_udf(ArrayType(StringType()))
    def _tokenize(texts: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def tok(text: str | None) -> list[str] | None:
            if text is None:
                return None
            out: list[str] = []
            for word in pattern.findall(text):
                got = memo.get(word)
                if got is None:
                    got = apply_bpe(word, ranks)
                    memo[word] = got
                out.extend(got)
            return out

        return texts.map(tok)

    # Arrow-UDF stages inherit the scan's split count; a small corpus
    # in one parquet file = ONE task no matter how many cores (the
    # tokenize stage of the sf0.1 bench ran 1/32 of capacity). At
    # 100 TB the scan yields thousands of splits and this is a no-op;
    # below the cores count it's a cheap narrow-ish shuffle that buys
    # full parallelism for the Python stage.
    from solrizer_spark.operators.repartition import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    return df.withColumn(out_col, _tokenize(F.col(text_col)))


# --------------------------------------------------------------------------
# merge-table persistence (tokenizers are trained once, applied often)
# --------------------------------------------------------------------------

def save_merges(spark, merges: Sequence[tuple[str, str]], path: str) -> None:
    """Persist learned merges as a ``(rank, left, right)`` parquet
    table — the tokenizer artifact a training run ships alongside its
    corpus (rank preserves application priority)."""
    from solrizer_spark.session import write_local_parquet

    products = [a + b for a, b in merges]
    assert len(set(products)) == len(products), (
        "merge list has duplicate products — ambiguous tokenization "
        "(see learn_bpe); refusing to persist"
    )
    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    # driver-direct write — zero Spark jobs for a ≤KB artifact
    write_local_parquet(rows, "rank long, left string, right string", path)


#: loud-failure bound for tables documented as "vocabulary-sized":
#: past this, a global (unpartitioned) rank/sum window is no longer
#: operating on a vocabulary but on something corpus-shaped, and the
#: single-partition exchange it implies must not proceed silently
MAX_VOCAB_ROWS = 10_000_000
