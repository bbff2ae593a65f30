"""Corpus card generator (engine-original training-data datasheet)."""

from __future__ import annotations

from pyspark.sql import functions as F

from solrizer_spark.operators.report import corpus_card_stats, render_corpus_card


def _corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en",
         "https://a.example.com/1"),
        (2, "the cat sat on the mat and it was that kind of day", "en",
         "https://b.example.com/2"),
        (3, "der hund ist nicht ein katze und das ist gut", "de",
         "https://a.example.com/3"),
        (4, None, "en", "https://c.other.org/4"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    )


def test_corpus_card_stats_totals(spark):
    stats = corpus_card_stats(_corpus(spark), lang_col="lang", url_col="url")
    assert stats["n_docs"] == 4
    assert stats["n_docs_with_text"] == 3
    by_lang = {r["lang"]: r for r in stats["languages"]}
    assert by_lang["en"]["n_docs"] == 3 and by_lang["de"]["n_docs"] == 1
    assert abs(sum(r["fraction"] for r in stats["languages"]) - 1.0) < 1e-9
    # totals derived from per-lang partials must equal a direct global
    direct = _corpus(spark).agg(F.sum(F.length("text"))).collect()[0][0]
    assert stats["total_chars"] == direct
    # docs 1-3 all live under example.com; it tops the domain table
    assert stats["top_domains"][0] == {"domain": "example.com", "n_docs": 3}


def test_corpus_card_derived_langid(spark):
    stats = corpus_card_stats(_corpus(spark))  # langid() heuristic
    assert {r["lang"] for r in stats["languages"]} >= {"en", "de"}
    assert "top_domains" not in stats


def test_render_corpus_card_markdown(spark):
    stats = corpus_card_stats(_corpus(spark), lang_col="lang", url_col="url")
    md = render_corpus_card(stats, title="Corpus card — test")
    assert md.startswith("# Corpus card — test")
    assert "| en | 3 |" in md
    assert "| example.com | 3 |" in md
    assert "## Length distribution" in md


def test_corpus_card_empty_corpus(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    stats = corpus_card_stats(df)
    assert stats["n_docs"] == 0 and stats["total_tokens"] == 0
    # rendering must not raise on the empty card
    assert "Documents**: 0" in render_corpus_card(stats)


def test_curate_report_flag(spark, tmp_path):
    import argparse

    from curate import run_curate

    path = str(tmp_path / "in")
    _corpus(spark).write.parquet(path)
    out = str(tmp_path / "out")
    report = str(tmp_path / "card.md")
    args = argparse.Namespace(
        input=path, output=out, ops="normalize", id_col="doc_id",
        text_col="text", min_quality=0.5, langs="en", line_min_count=3,
        near_threshold=0.5,
        benchmark_file=None, mix_source_col="lang", mix_temperature=0.7,
        chunk_tokens=8, chunk_overlap=2, cpus=None, stats="none",
        report=report, min_fluency=1e-4, base_path=None, base_index=None, output_format="parquet",
    )
    stats = run_curate(spark, args)
    assert stats["report"] == report
    text = open(report, encoding="utf-8").read()
    assert text.startswith("# Corpus card") and "## Languages" in text
    # the url column is present in the output → domains table renders
    # even though the id column is doc_id (review finding)
    assert "## Top domains" in text and "example.com" in text


def test_curate_report_after_chunk_op(spark, tmp_path):
    """Review regression: chunk emits a 'chunk' column and drops the
    text column — the card must be computed over the chunks."""
    import argparse

    from curate import run_curate

    path = str(tmp_path / "in")
    _corpus(spark).write.parquet(path)
    out = str(tmp_path / "out")
    report = str(tmp_path / "card.md")
    args = argparse.Namespace(
        input=path, output=out, ops="chunk", id_col="doc_id",
        text_col="text", min_quality=0.5, langs="en", line_min_count=3,
        near_threshold=0.5,
        benchmark_file=None, mix_source_col="lang", mix_temperature=0.7,
        chunk_tokens=8, chunk_overlap=2, cpus=None, stats="none",
        report=report, min_fluency=1e-4, base_path=None, base_index=None, output_format="parquet",
    )
    stats = run_curate(spark, args)
    assert stats["rows_out"] >= 3
    text = open(report, encoding="utf-8").read()
    assert "Documents**" in text  # card over chunk rows, no crash
