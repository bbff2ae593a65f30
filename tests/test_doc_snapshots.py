"""Full-document golden snapshots: the complete doc JSON for 10
deterministic corpus pages, pinned byte-for-byte across rounds (the
analog of the reference's full request→JSON-doc assertions,
tests/test_app.py:47-281). Regenerate deliberately with
``python tools/regen_snapshots.py`` when doc semantics change."""

import json
import os

import pytest

SNAP = os.path.join(os.path.dirname(__file__), "golden", "doc_snapshots.json")


@pytest.fixture(scope="module")
def snapshots():
    with open(SNAP) as fh:
        return json.load(fh)


def test_doc_snapshots_byte_identical(spark, snapshots):
    from solrizer_spark.corpus.generator import generate_page
    from solrizer_spark.plans.pipeline import run_chain

    rows = [generate_page(i, 42)[0] for i in range(10)]
    df = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = {r.url: r.doc for r in run_chain(df).select("url", "doc").collect()}
    assert set(out) == set(snapshots)
    for url, doc in out.items():
        assert doc == snapshots[url], f"doc drifted for {url}"
