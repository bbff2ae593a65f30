"""BPE vocabulary induction + tokenization (engine-original training
op; no reference analog — extends text_stats' token counting)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from solrizer_spark.functions.bpe import (
    END_OF_WORD,
    apply_bpe,
    bpe_tokenize,
    bpe_train,
    learn_bpe,
    top_words,
)

#: the classic Sennrich et al. example vocabulary
SENNRICH = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]


def test_learn_bpe_sennrich_merge_order():
    # hand-computed: (e,s)=9 ties (es,t)/(t,</w>) → lexicographic;
    # then est, est</w>, then the l-o/o-w chain at count 7
    merges = learn_bpe(SENNRICH, 5)
    assert merges == [
        ("e", "s"),
        ("es", "t"),
        ("est", END_OF_WORD),
        ("l", "o"),
        ("lo", "w"),
    ]


def test_apply_bpe_generalizes_to_unseen_word():
    merges = learn_bpe(SENNRICH, 5)
    ranks = {p: i for i, p in enumerate(merges)}
    # "lowest" never appears in training; BPE composes low + est</w>
    assert apply_bpe("lowest", ranks) == ["low", "est" + END_OF_WORD]


def test_apply_bpe_no_merges_is_chars():
    assert apply_bpe("ab", {}) == ["a", "b", END_OF_WORD]


def test_learn_bpe_stops_when_no_pair_repeats():
    # every word unique, freq 1 → best pair count may be 1 → stop
    merges = learn_bpe([("xy", 1), ("qz", 1)], 10)
    assert merges == []


def test_learn_bpe_deterministic_order_invariance():
    fwd = learn_bpe(SENNRICH, 8)
    rev = learn_bpe(list(reversed(SENNRICH)), 8)
    assert fwd == rev


def test_top_words_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [("b b a a c",)], ["text"]
    )
    rows = top_words(df, "text", k=2).collect()
    # a and b both freq 2 → word-ascending tie-break
    assert [(r["word"], r["freq"]) for r in rows] == [("a", 2), ("b", 2)]


def test_bpe_tokenize_end_to_end(spark):
    df = spark.createDataFrame(
        [(i, " ".join(w for w, f in SENNRICH for _ in range(f)))
         for i in range(3)],
        ["doc_id", "text"],
    )
    merges = bpe_train(df, "text", num_merges=5, top_k=100)
    assert merges[:3] == [("e", "s"), ("es", "t"), ("est", END_OF_WORD)]
    out = bpe_tokenize(df, merges, "text").select("doc_id", "bpe_tokens").collect()
    for r in out:
        # every word ends in a </w>-terminated token; "low" is a
        # single token (l-o, lo-w merged, no low-</w> merge learned)
        assert "low" in r["bpe_tokens"]
    # null text → null tokens
    null_out = bpe_tokenize(
        spark.createDataFrame([(None,)], "text string"), merges, "text"
    ).collect()
    assert null_out[0]["bpe_tokens"] is None


@settings(max_examples=30, deadline=None)
@given(st.text(max_size=60))
def test_tokenize_roundtrip_property(text):
    """Concatenating a word's BPE tokens and stripping the end marker
    reconstructs the word exactly, for arbitrary learned merges."""
    import re

    from solrizer_spark.functions.text_stats import BPE_SPLIT_PATTERN

    words = re.findall(BPE_SPLIT_PATTERN, text)
    merges = learn_bpe([(w, 3) for w in words], 20)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in words:
        toks = apply_bpe(w, ranks)
        joined = "".join(toks)
        assert joined.removesuffix(END_OF_WORD) == w


def test_tokenize_nbsp_matches_training_pretokenization(spark):
    """Review regression: Python \\s is Unicode (eats NBSP) while
    Java's is ASCII-only — re.ASCII keeps train/apply pre-tokenization
    identical, so NBSP must survive as a punctuation-run token."""
    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    n_words = (
        df.select(F.size(F.regexp_extract_all(
            "text",
            F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"), F.lit(0))).alias("n"))
        .collect()[0]["n"]
    )
    assert n_words == 3  # Java side: a, NBSP, b
    out = bpe_tokenize(df, [], "text").collect()[0]["bpe_tokens"]
    # 3 words × (chars + </w>) — NBSP word present, not swallowed
    assert out.count(END_OF_WORD) == 3 and "\xa0" in out


def test_more_merges_never_more_tokens():
    ranks5 = {p: i for i, p in enumerate(learn_bpe(SENNRICH, 5))}
    ranks10 = {p: i for i, p in enumerate(learn_bpe(SENNRICH, 10))}
    for w, _ in SENNRICH:
        assert len(apply_bpe(w, ranks10)) <= len(apply_bpe(w, ranks5))


def test_merge_table_roundtrip(spark, tmp_path):
    from solrizer_spark.functions.bpe import save_merges

    merges = learn_bpe(SENNRICH, 5)
    path = str(tmp_path / "merges")
    save_merges(spark, merges, path)
    rows = spark.read.parquet(path).orderBy("rank").collect()
    loaded = [(r["left"], r["right"]) for r in rows]
    assert loaded == merges
    # tokenization with reloaded merges is identical
    df = spark.createDataFrame([(1, "lowest")], ["doc_id", "text"])
    a = bpe_tokenize(df, merges, "text").collect()[0]["bpe_tokens"]
    b = bpe_tokenize(df, loaded, "text").collect()[0]["bpe_tokens"]
    assert a == b == ["low", "est" + END_OF_WORD]
