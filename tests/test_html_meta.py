"""JVM page-metadata extractors (functions/html_meta.py).

Pins attribute-order robustness, miss→NULL normalization, and the
published-time preference cascade; the full-width value check is the
`html_metadata` oracle query (50/50 gate).
"""
from __future__ import annotations

from pyspark.sql import functions as F

from solrizer_spark.functions.html_meta import page_metadata


def _extract(spark, html: str) -> dict:
    df = spark.createDataFrame([(html,)], "html string")
    meta = page_metadata(F.col("html"))
    row = df.select(*(c.alias(k) for k, c in meta.items())).first()
    return row.asDict()


def test_attribute_order_and_quoting(spark):
    # content BEFORE property/name; single quotes; unquoted charset
    html = (
        "<html><head>"
        "<meta content='The Title' property='og:title'>"
        "<meta charset=UTF-8>"
        '<meta content="a page" name="description">'
        "<link href='https://x.example/c' rel='canonical'>"
        "</head><body></body></html>"
    )
    got = _extract(spark, html)
    # reversed attribute order is a documented non-goal for the
    # non-greedy single-pass patterns EXCEPT charset (value follows
    # the attribute name by definition)
    assert got["declared_charset"] == "utf-8"
    # canonical with href before rel is missed (documented bound);
    # standard order is extracted
    html2 = '<link rel="canonical" href="https://x.example/c2">'
    assert _extract(spark, html2)["canonical_url"] == "https://x.example/c2"


def test_misses_are_null_not_empty(spark):
    got = _extract(spark, "<html><head></head><body><p>x</p></body></html>")
    assert all(v is None for v in got.values())


def test_published_time_cascade(spark):
    meta_and_time = (
        '<meta property="article:published_time" content="2024-02-03T04:05:06+00:00">'
        '<time datetime="1999-01-01T00:00:00Z">old</time>'
    )
    assert (
        _extract(spark, meta_and_time)["published_time"]
        == "2024-02-03T04:05:06+00:00"
    )
    only_time = '<article><time datetime="2021-12-31T23:00:00Z">x</time></article>'
    assert _extract(spark, only_time)["published_time"] == "2021-12-31T23:00:00Z"


def test_html_lang(spark):
    assert (
        _extract(spark, '<html lang="en-US"><body>x</body></html>')["declared_lang"]
        == "en-us"
    )
    assert _extract(spark, "<html lang=fr><p>x</p>")["declared_lang"] == "fr"
    # xml:lang alone is not the lang attribute; a bare <html> is a miss
    assert _extract(spark, "<html><p>x</p></html>")["declared_lang"] is None


def test_meta_robots_and_noindex(spark):
    from solrizer_spark.operators.extract import _extract_one

    got = _extract(spark, '<meta name="robots" content="NOINDEX, nofollow">')
    assert got["meta_robots"] == "noindex, nofollow"
    # noindex is decided by the extraction kernel's head scan
    pages = [
        b'<meta name="robots" content="noindex">',
        b'<meta name="robots" content="none">',
        b'<meta name="robots" content="nofollow">',  # follow-only: indexable
        b'<meta name="robots" content="noindexing-is-fun">',  # no token match
        b"<p>no robots meta at all</p>",
    ]
    flags = [_extract_one(h, None, (400, 400))["is_noindex"] for h in pages]
    assert flags == [True, True, False, False, False]


def test_no_cross_tag_capture(spark):
    # a canonical-less link tag must not capture the href of a LATER
    # tag: [^>]*? cannot cross the tag close
    html = (
        '<link rel="stylesheet" href="/style.css">'
        '<link rel="canonical" href="https://x.example/real">'
    )
    assert _extract(spark, html)["canonical_url"] == "https://x.example/real"


def test_plan_is_pure_jvm(spark):
    # zero Python in the plan: metadata extraction must stay inside
    # whole-stage codegen at 10^12-row scale
    df = spark.createDataFrame([("<p>x</p>",)], "html string")
    meta = page_metadata(F.col("html"))
    plan = df.select(*(c.alias(k) for k, c in meta.items()))._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
