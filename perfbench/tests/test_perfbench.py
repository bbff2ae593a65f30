"""Tests of the benchmark itself: its inputs, its correctness gates and
its metric names. No Spark session is started.

    python -m pytest perfbench/tests -q
"""

import json
import os
import sys
from collections import Counter

import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, spec  # noqa: E402


@pytest.fixture(scope="module")
def corpora(tmp_path_factory):
    return {
        seed: inputs.make_extract_corpus(str(tmp_path_factory.mktemp(f"s{seed}")), seed, n_pages=600)
        for seed in (1, 2)
    }


def docs_from_golden(golden: pa.Table) -> pa.Table:
    """The docs table a correct extraction writes for ``golden``."""
    rows = golden.to_pylist()
    return pa.table({
        "url": [r["url"] for r in rows],
        "extracted_text": [None if r["expect_parse_failed"] else r["expected_text"] for r in rows],
        "parse_failed": [r["expect_parse_failed"] for r in rows],
    })


def test_two_seeds_same_class_mix_and_counts(corpora):
    a, b = corpora[1], corpora[2]
    assert a["n_docs"] == b["n_docs"] == 600
    mix = [Counter(c["golden"].column("payload_class").to_pylist()) for c in (a, b)]
    assert mix[0] == mix[1]
    # the generator's ten i % 10 classes under their golden labels
    assert set(mix[0]) == {
        "boilerplate-html", "simple-html", "multi-block", "plain-text", "tagged-payload",
        "entity-html", "malformed", "cp1251-declared", "cp1252-undeclared",
    }
    assert a["golden"].column("url").to_pylist() != b["golden"].column("url").to_pylist()

    rows1, pairs1 = inputs.make_curate_docs(1, n_base=600)
    rows2, pairs2 = inputs.make_curate_docs(2, n_base=600)
    assert len(rows1) == len(rows2)
    assert len(pairs1) == len(pairs2) > 0
    assert rows1 != rows2


def test_same_seed_same_inputs(tmp_path):
    assert inputs.make_curate_docs(5, n_base=300) == inputs.make_curate_docs(5, n_base=300)
    a = inputs.make_extract_corpus(str(tmp_path / "a"), 5, n_pages=300)
    b = inputs.make_extract_corpus(str(tmp_path / "b"), 5, n_pages=300)
    assert a["golden"].equals(b["golden"])
    assert a["n_bytes"] == b["n_bytes"]


def test_extract_gate_is_live(corpora):
    golden = corpora[1]["golden"]
    docs = docs_from_golden(golden)
    assert inputs.extract_mismatches(docs, golden) == 0

    rows = docs.to_pylist()
    i = next(k for k, r in enumerate(rows) if r["extracted_text"])
    corrupted = [dict(r) for r in rows]
    corrupted[i]["extracted_text"] += " "
    assert inputs.extract_mismatches(pa.Table.from_pylist(corrupted, docs.schema), golden) == 1

    failed = next(k for k, r in enumerate(rows) if r["parse_failed"])
    flipped = [dict(r) for r in rows]
    flipped[failed]["parse_failed"] = False
    assert inputs.extract_mismatches(pa.Table.from_pylist(flipped, docs.schema), golden) == 1

    assert inputs.extract_mismatches(docs.slice(1), golden) == 1
    assert inputs.extract_mismatches(pa.concat_tables([docs, docs.slice(0, 2)]), golden) == 2


def test_curate_gate_is_live():
    rows, pairs = inputs.make_curate_docs(3, n_base=600)
    expected = inputs.curate_expected(rows, pairs)
    out = pa.table({"url": list(expected), "extracted_text": list(expected.values())})
    assert inputs.curate_mismatches(out, expected) == 0

    urls, texts = list(expected), list(expected.values())
    texts[0] = texts[0].upper()
    assert inputs.curate_mismatches(pa.table({"url": urls, "extracted_text": texts}), expected) == 1
    assert inputs.curate_mismatches(out.slice(1), expected) == 1
    kept_dup = pa.table({"url": [f"{urls[0]}?ref=near"], "extracted_text": ["x"]})
    assert inputs.curate_mismatches(pa.concat_tables([out, kept_dup]), expected) == 1


def test_curate_expectation_applies_each_rule():
    body = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    other = "alpha bravo charlie delta mesa knoll lagoon jetty inlet harbor grove fjord"
    banner = inputs.BANNERS[0]
    rows = [
        {"url": "https://a/1", "extracted_text": f"{body}\n{banner}"},
        {"url": "https://a/2", "extracted_text": f"{other}\n{banner}"},
        {"url": "https://b/1", "extracted_text": f"{body}\n{banner}"},  # mirror
        {"url": "https://a/1?ref=near", "extracted_text": f"{body} zulu"},
        {"url": "https://c/1", "extracted_text": "Mail me@ex.com  or\t555-123-4567"},
        {"url": "https://c/2", "extracted_text": banner},  # no line left
        {"url": "https://c/3", "extracted_text": "Mail you@ex.org or 555-765-4321 today"},
        {"url": "https://c/4", "extracted_text": "zz yy xx ww"},  # not fluent
    ]
    got = inputs.curate_expected(rows, [("https://a/1", "https://a/1?ref=near")])
    assert set(got) == {"https://a/1", "https://a/2", "https://c/1", "https://c/3"}
    assert got["https://a/1"] == body
    assert got["https://c/1"] == "Mail [EMAIL] or [PHONE]"


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(spec.WORKLOADS)
    for key, declared in (("end_to_end", spec.END_TO_END), ("per_layer", spec.PER_LAYER)):
        assert [(m["name"], m["unit"], m["better"]) for m in bench[key]] == list(declared)
    names = [m[0] for m in spec.END_TO_END + spec.PER_LAYER]
    assert len(names) == len(set(names))
    for name in names:
        assert spec.NAME_RE.fullmatch(name), name
    assert "setup_s" in spec.declared(trace=False)
