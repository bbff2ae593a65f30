"""The extraction plan is built once per process: each stage caches its
Columns keyed by what it reads, and a warm chain build costs a few
py4j round trips per stage. These tests pin the round-trip budget,
plan identity between cold and warm builds, and that every cache key
that should change the plan does."""

import json
import os
import re
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

#: round trips a warm DEFAULT_CHAIN build may make (139 measured);
#: building every Column on every call takes ~2,300
WARM_BUILD_MAX_CALLS = 300


@contextmanager
def py4j_calls():
    """Count the py4j round trips this thread makes inside the block.
    py4j's finalizer thread, which tells the JVM about Python objects
    collected earlier, is not counted."""
    import threading

    import py4j.clientserver as cs
    import py4j.java_gateway as jg

    count = [0]
    saved = []
    me = threading.get_ident()
    for cls in (cs.ClientServerConnection, jg.GatewayConnection):
        orig = cls.send_command
        saved.append((cls, orig))

        def counted(self, *a, _orig=orig, **kw):
            count[0] += threading.get_ident() == me
            return _orig(self, *a, **kw)

        cls.send_command = counted
    try:
        yield count
    finally:
        for cls, orig in saved:
            cls.send_command = orig


def clear_plan_caches():
    from solrizer_spark.operators import doc_json, extract
    from solrizer_spark.plans import pipeline

    for fn in (
        extract._extract_layers,
        doc_json._doc_column,
        pipeline._content_model_columns,
        pipeline._discoverability_layers,
        pipeline._dates_columns,
        pipeline._aggregate_columns,
        pipeline._child_docs_columns,
        pipeline._iiif_layers,
    ):
        fn.cache_clear()
    pipeline._FACET_STEPS.clear()


def optimized_plan(df) -> str:
    return re.sub(r"#\d+L?", "#N", df._jdf.queryExecution().optimizedPlan().toString())


def test_warm_chain_build_budget_and_plan_identity(spark, corpus_dir):
    from solrizer_spark.plans.pipeline import DEFAULT_CHAIN, build_pipeline
    from solrizer_spark.sources.pages import read_pages

    path = os.path.join(corpus_dir, "pages")
    clear_plan_caches()
    cold = build_pipeline(DEFAULT_CHAIN)(read_pages(spark, path))
    pages = read_pages(spark, path)
    pages.columns  # the input's schema is read by any caller
    with py4j_calls() as calls:
        warm = build_pipeline(DEFAULT_CHAIN)(pages)
    assert calls[0] <= WARM_BUILD_MAX_CALLS, calls[0]
    assert warm.columns == cold.columns
    assert optimized_plan(warm) == optimized_plan(cold)


def _local(spark, rows, extra=""):
    from solrizer_spark.session import local_df

    return local_df(
        spark, rows, "url string, warc_ts timestamp, html binary, text string, lang string" + extra
    )


def _row(url="https://example.org/a/b", html=b"<html><body><p>plan cache keys</p></body></html>"):
    import datetime as dt

    return (url, dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc), html, None, "en")


def test_faceter_registry_changes_get_their_own_plan(spark):
    from solrizer_spark.plans.pipeline import DEFAULT_FACETERS, FACETERS, run_chain

    df = _local(spark, [_row()])
    conf = {"faceters": [*DEFAULT_FACETERS, "mood"]}
    FACETERS["mood"] = lambda df: F.lit("cheerful")
    try:
        assert run_chain(df, conf=conf).first()["mood__facet"] == "cheerful"
        # the same name, a new builder: never the stale Column
        FACETERS["mood"] = lambda df: F.lit("gloomy")
        assert run_chain(df, conf=conf).first()["mood__facet"] == "gloomy"
        # a faceter inserted ahead of the others
        FACETERS["weather"] = lambda df: F.lit("rain")
        row = run_chain(df, conf={"faceters": ["weather", *conf["faceters"]]}).first()
        assert (row["weather__facet"], row["mood__facet"]) == ("rain", "gloomy")
    finally:
        FACETERS.pop("mood", None)
        FACETERS.pop("weather", None)


def test_conf_changes_get_their_own_plan(spark):
    from solrizer_spark.plans.pipeline import run_chain

    df = _local(spark, [_row()])
    base = run_chain(df)
    assert {"language__facet", "domain__facet"} <= set(base.columns)
    only_lang = run_chain(df, conf={"faceters": ["language"]})
    assert "language__facet" in only_lang.columns
    assert "domain__facet" not in only_lang.columns

    agg = {"agg_text": [".url"], "agg_identifier": [".id"]}
    row = run_chain(df, conf={"aggregate_fields": agg}).first()
    assert row["agg_text"] == ["https://example.org/a/b"]
    assert json.loads(row["doc"])["text"] == ["https://example.org/a/b"]
    assert run_chain(df).first()["agg_text"] != row["agg_text"]

    chain = ["extract", "content_model", "doc"]
    assert "blocks" not in run_chain(df, chain).columns
    detail = run_chain(df, chain, conf={"include_blocks": True})
    assert "blocks" in detail.columns
    assert detail.first()["extracted_text"] == run_chain(df, chain).first()["extracted_text"]


def test_http_charset_input_gets_its_own_plan(spark):
    from solrizer_spark.operators.extract import extract_stage

    latin1 = "<html><body><p>café crème</p></body></html>".encode("latin-1")
    plain = _local(spark, [_row(html=latin1)])
    with_hint = _local(
        spark, [(*_row(html=latin1), "iso-8859-1")], ", http_charset string"
    )
    assert extract_stage(plain).first()["charset_source"] != "http"
    row = extract_stage(with_hint).first()
    assert row["charset_source"] == "http"
    assert "café" in row["extracted_text"]
    assert extract_stage(plain).first()["charset_source"] != "http"


def test_failed_build_raises_on_every_call(spark):
    from solrizer_spark.plans.pipeline import run_chain

    df = _local(spark, [_row()])
    for _ in range(2):
        with pytest.raises(ValueError, match="requires column 'format'"):
            run_chain(df, conf={"faceters": ["resource_type"]})
        with pytest.raises(ValueError, match="requires column 'nope'"):
            run_chain(df, conf={"aggregate_fields": {"agg_text": [".nope"]}})


def test_goldens_hold_after_warm_build(spark, corpus_dir):
    """The fast/detail parity and the doc snapshots, re-run after both
    extraction modes are warm in this process."""
    import test_doc_snapshots
    import test_pipeline_e2e

    from solrizer_spark.plans.pipeline import DEFAULT_CHAIN, build_pipeline

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages"))
    build_pipeline(DEFAULT_CHAIN)(pages)
    build_pipeline(DEFAULT_CHAIN, {"include_blocks": True})(pages)
    test_pipeline_e2e.test_fast_and_detail_modes_identical(spark, corpus_dir)
    with open(test_doc_snapshots.SNAP) as fh:
        test_doc_snapshots.test_doc_snapshots_byte_identical(spark, json.load(fh))
