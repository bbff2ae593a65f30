"""End-to-end pipeline tests over a deterministic synthetic corpus —
the Spark analog of the reference's mocked-repository HTTP e2e tests
(tests/test_app.py:47-281), with golden byte-identity as the gate.
"""

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from job import run_job
from solrizer_spark.plans.pipeline import build_pipeline


@pytest.fixture(scope="module")
def job_output(spark, corpus_dir):
    out = tempfile.mkdtemp() + "/out"
    stats = run_job(spark, os.path.join(corpus_dir, "pages"), out, n_buckets=16)
    return out, stats


@pytest.fixture(scope="module")
def joined(spark, corpus_dir, job_output):
    out, _ = job_output
    docs = spark.read.parquet(out + "/docs")
    golden = spark.read.parquet(os.path.join(corpus_dir, "golden"))
    return docs.join(golden, "url").cache()


def test_byte_identical_extracted_text(joined):
    n = joined.count()
    assert n == 200
    mismatched = joined.where(
        ~F.col("parse_failed")
        & ~F.col("extracted_text").eqNullSafe(F.col("expected_text"))
    ).count()
    assert mismatched == 0


def test_parse_failures_flagged_not_fatal(joined):
    assert (
        joined.where(
            F.col("expect_parse_failed") != F.col("parse_failed")
        ).count()
        == 0
    )
    # failed rows are present in the sink (quarantined, not dropped)
    assert joined.where(F.col("parse_failed")).count() > 0


def test_charset_rescue_surfaced(spark, job_output, joined):
    """Rescued pages carry their decode source in the docs table and
    roll up into the per-bucket n_charset_rescued metric."""
    rescued = joined.where(
        F.col("payload_class").isin("cp1251-declared", "cp1252-undeclared")
    )
    n_rescued = rescued.count()
    assert n_rescued > 0
    assert (
        rescued.where(~F.col("charset_source").isin("meta", "fallback")).count()
        == 0
    )
    # valid-UTF-8 html stays on the strict fast path
    strict = joined.where(F.col("payload_class") == "boilerplate-html")
    assert strict.where(F.col("charset_source") != "strict").count() == 0
    out, _ = job_output
    metrics = spark.read.parquet(out + "/metrics")
    assert metrics.agg(F.sum("n_charset_rescued")).first()[0] == n_rescued


def test_dps_txt_switch(joined):
    """Tagged payloads flip the field name (extracted_text.py:51-56)."""
    rows = joined.where(F.col("tagged")).select("doc").collect()
    assert rows
    for r in rows:
        doc = json.loads(r.doc)
        assert "extracted_text__dps_txt" in doc
        assert "extracted_text__txt" not in doc


def test_doc_json_canonical(joined):
    """Valid JSON, sorted keys (web.py:405), nulls omitted."""
    for r in joined.limit(50).select("doc").collect():
        doc = json.loads(r.doc)
        keys = list(doc.keys())
        assert keys == sorted(keys)
        assert None not in doc.values()


def test_doc_fields(joined):
    r = joined.where(
        (F.col("payload_class") == "boilerplate-html") & ~F.col("parse_failed")
    ).select("doc", "lang", "expected_title").first()
    doc = json.loads(r.doc)
    assert doc["id"].startswith("https://")
    assert doc["_root_"] == doc["id"]
    assert doc["content_model_name__str"] == "html"
    assert doc["warc_ts__time"].endswith("Z")
    assert isinstance(doc["is_discoverable"], bool)
    assert doc["text"]  # aggregate omnibus field
    # language-suffixed dynamic title field name
    suffix = {"en": "_en", "de": "_de", "es": "_es", "fr": "_fr", "zh": "_zh",
              "ger": "_de", "jpn": "_ja", "en-US": "_en_us", "ja-Latn": "_ja_latn"}[r.lang]
    assert doc[f"title__txt{suffix}"] == r.expected_title


def test_language_facet(joined):
    rows = joined.select("lang", "doc").collect()
    names = {"en": "English", "de": "German", "es": "Spanish", "fr": "French",
             "zh": "Chinese", "ger": "German", "jpn": "Japanese"}
    for r in rows:
        doc = json.loads(r.doc)
        expected = names.get(r.lang, r.lang)  # unmatched tags pass through
        assert doc["language__facet"] == expected


def test_metrics_side_table(spark, job_output):
    out, stats = job_output
    metrics = spark.read.parquet(out + "/metrics")
    total = metrics.agg(
        F.sum("n_docs").alias("n"), F.sum("parse_failures").alias("pf")
    ).first()
    assert total.n == 200
    assert total.pf == stats["counters"]["parse_failures"] > 0
    assert metrics.where(F.col("blocks_dropped") > 0).count() > 0


def test_manifest_complete(spark, job_output):
    out, stats = job_output
    m = spark.read.parquet(out + "/manifests")
    assert m.where(F.col("status") == "complete").count() == m.count() > 0
    assert m.agg(F.sum("n_docs")).first()[0] == 200


def test_resume_skips_completed(spark, corpus_dir, job_output):
    out, _ = job_output
    stats2 = run_job(
        spark, os.path.join(corpus_dir, "pages"), out, n_buckets=16, resume=True
    )
    assert stats2["skipped_buckets"] == 16
    assert stats2["n_docs"] == 0
    # the write's observation fired over the empty relation
    assert stats2["counters"] == {"n_docs": 0}


def test_unknown_stage_fails_fast():
    with pytest.raises(ValueError, match="unknown stage"):
        build_pipeline(["extract", "nope"])
    with pytest.raises(ValueError, match="duplicate"):
        build_pipeline(["extract", "extract"])


def test_deterministic_across_runs(spark, corpus_dir, job_output):
    """Same input → byte-identical extracted text on an independent run
    (task retries / speculative re-execution safety)."""
    out1, _ = job_output
    out2 = tempfile.mkdtemp() + "/out2"
    run_job(spark, os.path.join(corpus_dir, "pages"), out2, n_buckets=16)
    d1 = spark.read.parquet(out1 + "/docs").select("url", "extracted_text", "doc")
    d2 = spark.read.parquet(out2 + "/docs").select("url", "extracted_text", "doc")
    assert d1.exceptAll(d2).count() == 0
    assert d2.exceptAll(d1).count() == 0


def test_fast_and_detail_modes_identical(spark, corpus_dir):
    """The kernel-side text resolution (fast path) must produce the
    same bytes as the Column-expression assembly (detail path)."""
    from solrizer_spark.operators.extract import extract_stage

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages"))
    cols = ["url", "extracted_text", "title", "route", "parse_failed",
            "blocks_kept", "blocks_dropped"]
    fast = extract_stage(pages, include_blocks=False).select(cols)
    detail = extract_stage(pages, include_blocks=True).select(cols)
    assert fast.exceptAll(detail).count() == 0
    assert detail.exceptAll(fast).count() == 0


def test_salted_repartition_balances_skewed_domains(spark, corpus_dir):
    """FIXTURES.md corpus: 3 mega-domains own ~30% of urls. After the
    salted url-hash repartition, physical partitions are near-uniform —
    and, given the sink's bucket count, bucket-aligned: whole buckets
    per task when P ≤ B, a slice of exactly one bucket when P > B."""
    from solrizer_spark.operators.repartition import salted_repartition, url_bucket

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages"))
    # confirm the input is actually skewed
    domains = pages.groupBy(
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("d")
    ).count()
    top3 = sum(r["count"] for r in domains.orderBy(F.col("count").desc()).limit(3).collect())
    assert top3 >= 0.2 * 200

    def layout(n_parts, n_buckets=None):
        placed = salted_repartition(pages, n_parts, n_buckets=n_buckets)
        rows = (
            placed.select(
                F.spark_partition_id().alias("p"),
                url_bucket("url", n_buckets or 1).alias("b"),
            )
            .groupBy("p", "b")
            .count()
            .collect()
        )
        counts: dict[int, int] = {}
        for r in rows:
            counts[r["p"]] = counts.get(r["p"], 0) + r["count"]
        c = list(counts.values())
        assert max(c) <= 2.0 * (sum(c) / len(c))
        return counts, rows

    counts, _ = layout(8)
    assert len(counts) == 8

    # P ≤ B: every bucket lives in exactly one partition
    counts, rows = layout(4, n_buckets=16)
    assert len(counts) == 4
    assert len({r["b"] for r in rows}) == len(rows) == 16

    # P > B: every partition holds exactly one bucket (2 slices each)
    counts, rows = layout(8, n_buckets=4)
    assert len(counts) == 8
    assert len({r["p"] for r in rows}) == len(rows)
    assert sorted(r["p"] // 2 for r in rows) == sorted(r["b"] for r in rows)


def test_bucket_aligned_partitions_bounds():
    """The derived partition count: P ≤ B never adds tasks and keeps the
    fullest task within 1.25× the mean bucket share; P > B is a whole
    number of slices per bucket, never fewer tasks than asked."""
    import math

    from solrizer_spark.operators.repartition import bucket_aligned_partitions

    for b in (1, 2, 3, 7, 10, 16, 255, 256):
        for p in range(1, 3 * b + 2):
            n = bucket_aligned_partitions(p, b)
            if p > b:
                assert n % b == 0 and p <= n < p + b
            else:
                assert n <= p or n == b
                assert math.ceil(b / n) <= 1.25 * b / n


def test_index_record_single_doc(spark):
    """Single-record parity path (GET /doc analog, web.py:330-405)."""
    from solrizer_spark.plans.pipeline import index_record

    doc = index_record(
        spark,
        url="https://example.org/one",
        html=b"<html><head><title>T One</title></head><body><p>Hello single record path.</p></body></html>",
        lang="en",
    )
    assert doc["id"] == "https://example.org/one"
    assert doc["extracted_text__txt"] == "T OneHello single record path."
    assert doc["title__txt_en"] == "T One"
    assert doc["language__facet"] == "English"


def test_job_dedup_modes(spark, corpus_dir, tmp_path):
    from job import run_job

    src = os.path.join(corpus_dir, "pages")
    base = run_job(spark, src, str(tmp_path / "o1"), n_buckets=8)
    exact = run_job(spark, src, str(tmp_path / "o2"), n_buckets=8, dedup="exact")
    # corpus urls are unique and texts distinct → url dedup is a no-op,
    # exact dedup collapses only identical extracted_text (failed rows
    # share null text → coalesce keeps them apart)
    assert exact["n_docs"] <= base["n_docs"]
    url_d = run_job(spark, src, str(tmp_path / "o3"), n_buckets=8, dedup="url")
    assert url_d["n_docs"] == base["n_docs"]


def test_partial_resume_processes_only_incomplete_buckets(spark, corpus_dir, tmp_path):
    """Kill/rerun semantics (FIXTURES.md e2e tier): with only half the
    buckets marked complete, a resume run recomputes exactly the other
    half and appends exactly their manifest rows."""
    from job import run_job

    src = os.path.join(corpus_dir, "pages")
    out_full = str(tmp_path / "full")
    run_job(spark, src, out_full, n_buckets=16)
    full_docs = spark.read.parquet(out_full + "/docs")
    half_done = set(range(8))
    expected_rest = full_docs.where(~F.col("partition_key").isin(list(half_done))).count()

    # simulate a crash after half the buckets committed: manifests for
    # buckets 0-7 only, docs dir containing only those buckets' data
    out_part = str(tmp_path / "part")
    os.makedirs(out_part)
    m = spark.read.parquet(out_full + "/manifests")
    m.where(F.col("partition_key") < 8).write.parquet(out_part + "/manifests")
    full_docs.where(F.col("partition_key") < 8).write.partitionBy(
        "partition_key"
    ).parquet(out_part + "/docs")

    stats = run_job(spark, src, out_part, n_buckets=16, resume=True)
    assert stats["skipped_buckets"] == 8
    assert stats["n_docs"] == expected_rest
    # recombined output is complete: every url exactly once
    docs = spark.read.parquet(out_part + "/docs")
    assert docs.count() == 200
    assert docs.select("url").distinct().count() == 200
    # manifests now cover all 16 buckets exactly once
    m2 = spark.read.parquet(out_part + "/manifests")
    assert m2.select("partition_key").distinct().count() == 16
    assert m2.count() == 16


def test_job_near_dedup_mode(spark, tmp_path):
    """--dedup near: pages whose extracted text is a near-duplicate
    (one trailing word differs) collapse to one doc per cluster."""
    import duckdb

    from job import run_job

    # 30 base pages + for every third page a near-dup copy at a
    # different url (same body text with one word appended)
    rows = []
    for i in range(30):
        # disjoint vocabularies per doc: only the injected copies are
        # near-duplicates
        body = " ".join(f"doc{i}word{j}" for j in range(40)) + f" tail{i}"
        rows.append((f"https://nd.example.org/p/{i}", body))
        if i % 3 == 0:
            rows.append((f"https://nd.example.org/copy/{i}", body + " extra"))
    import pandas as pd

    src = str(tmp_path / "pages")
    os.makedirs(src)
    pdf = pd.DataFrame(
        {
            "url": [r[0] for r in rows],
            "warc_ts": pd.Timestamp("2024-01-01"),
            "html": [
                ("<html><body><p>" + r[1] + "</p></body></html>").encode()
                for r in rows
            ],
            "text": None,
            "lang": "en",
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src, mode="overwrite")

    out = str(tmp_path / "out")
    stats = run_job(spark, src, out, n_buckets=8, dedup="near")
    assert stats["n_docs"] == 30  # the 10 near-dup copies collapsed
    kept = duckdb.sql(f"SELECT url FROM '{out}/docs/**/*.parquet'").fetchall()
    urls = {u for (u,) in kept}
    assert len(urls) == 30
    # canonical member (min url) survives: copy/ < p/ lexicographically
    assert sum(1 for u in urls if "/copy/" in u) == 10
    assert sum(1 for u in urls if "/p/" in u) == 20


def test_job_detail_chain_config(spark, corpus_dir, tmp_path):
    """The extended --chains form ({"chains": ..., "conf": ...}) drives
    the detail chain end-to-end: child docs + IIIF fields reach the
    sink with stage conf (include_blocks, jq fields, IIIF patterns)."""
    import json

    import duckdb

    from job import run_job

    cfg = json.load(open("configs/chains.detail.example.json"))
    out = str(tmp_path / "out")
    stats = run_job(
        spark,
        os.path.join(corpus_dir, "pages"),
        out,
        n_buckets=8,
        model_chains=cfg["chains"],
        stage_conf=cfg["conf"],
    )
    assert stats["n_docs"] == 200
    row = duckdb.sql(
        f"SELECT pages, iiif_manifest__uri FROM '{out}/docs/**/*.parquet' "
        "WHERE pages IS NOT NULL AND len(pages) > 0 LIMIT 1"
    ).fetchone()
    assert row is not None
    pages, manifest_uri = row
    assert manifest_uri.startswith("https://iiif.example.edu/manifests/fcrepo:")
    assert pages[0]["page__label__txt"] == "[Page 1]"


def test_job_canonical_dedup(spark, tmp_path):
    """--dedup canonical collapses declared variants onto the canonical
    page (kernel-extracted canonical_url drives the wave); undeclared
    pages pass through."""
    from datetime import datetime

    rows = []
    canon = '<link rel="canonical" href="https://a.com/page">'
    bodies = {
        "https://a.com/page": f"<html><head>{canon}</head><body><p>canonical page body</p></body></html>",
        "https://a.com/page?utm=x": f"<html><head>{canon}</head><body><p>variant one body</p></body></html>",
        "https://a.com/amp": f"<html><head>{canon}</head><body><p>variant two body</p></body></html>",
        "https://c.com/solo": "<html><body><p>standalone page body</p></body></html>",
    }
    for i, (url, html) in enumerate(sorted(bodies.items())):
        rows.append((url, datetime(2026, 4, 1, 12, 0, i), html.encode(), None, "en"))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    src = str(tmp_path / "pages")
    df.write.parquet(src)
    out = str(tmp_path / "out")
    stats = run_job(spark, src, out, n_buckets=4, dedup="canonical")
    docs = spark.read.parquet(out + "/docs")
    kept = {r["url"] for r in docs.collect()}
    assert kept == {"https://a.com/page", "https://c.com/solo"}
    # the canonical target column round-trips to the sink
    row = docs.where(F.col("url") == "https://a.com/page").first()
    assert row["canonical_url"] == "https://a.com/page"


def test_noindex_flag_surfaced(spark, tmp_path):
    """Kernel-scanned robots noindex flag rides docs + metrics; pages
    are retained (curation decides), only counted."""
    from datetime import datetime

    robots = '<meta name="robots" content="noindex, nofollow">'
    rows = [
        ("https://n.com/hidden", datetime(2026, 4, 2, 12, 0, 0),
         f"<html><head>{robots}</head><body><p>login wall body</p></body></html>".encode(),
         None, "en"),
        ("https://n.com/open", datetime(2026, 4, 2, 12, 0, 1),
         "<html><body><p>open page body</p></body></html>".encode(), None, "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    src_dir = str(tmp_path / "pages")
    df.write.parquet(src_dir)
    out = str(tmp_path / "out")
    run_job(spark, src_dir, out, n_buckets=2)
    docs = {r["url"]: r for r in spark.read.parquet(out + "/docs").collect()}
    assert len(docs) == 2  # noindex retained, not dropped
    assert docs["https://n.com/hidden"]["is_noindex"] is True
    assert docs["https://n.com/open"]["is_noindex"] is False
    metrics = spark.read.parquet(out + "/metrics")
    assert metrics.agg(F.sum("n_noindex")).first()[0] == 1


def test_page_outline_from_blocks(spark):
    """page_outline: heading hierarchy in document order from the
    detail-mode blocks column; non-heading blocks and markup inside
    scripts/comments never appear."""
    from solrizer_spark.operators.extract import extract_stage, page_outline

    html = (
        b"<html><body><h1>Top</h1><p>text one</p>"
        b"<script>var x = '<h2>fake</h2>';</script>"
        b"<div><h2>Sec A</h2><p>two</p><h3>Sub</h3><p>three</p></div>"
        b"<h2>Sec B</h2><p>four</p></body></html>"
    )
    df = spark.createDataFrame(
        [("u1", html, None)], "url string, html binary, text string"
    )
    out = (
        extract_stage(df, include_blocks=True)
        .select(page_outline(F.col("blocks")).alias("o"))
        .first()["o"]
    )
    assert [(r["level"], r["text"]) for r in out] == [
        (1, "Top"), (2, "Sec A"), (3, "Sub"), (2, "Sec B"),
    ]


def test_job_outline_surface(spark, corpus_dir, tmp_path):
    """--outline: docs carry the parser-grounded heading hierarchy.
    multi-block pages (class 5) open with exactly one <h1>; non-HTML
    routes (plain-text, tagged, pdf) yield no headings."""
    out = str(tmp_path / "outline_out")
    run_job(
        spark, os.path.join(corpus_dir, "pages"), out,
        n_buckets=16, outline=True,
    )
    docs = spark.read.parquet(out + "/docs")
    assert "outline" in docs.columns
    golden = spark.read.parquet(os.path.join(corpus_dir, "golden"))
    j = docs.join(golden, "url").cache()
    bad_level = j.where(
        F.exists("outline", lambda b: (b["level"] < 1) | (b["level"] > 6))
    ).count()
    assert bad_level == 0
    multi = j.where(F.col("payload_class") == "multi-block")
    assert multi.count() > 0
    assert multi.where(
        (F.size("outline") != 1) | (F.element_at("outline", 1)["level"] != 1)
    ).count() == 0
    flat = j.where(F.col("payload_class").isin("plain-text", "tagged-payload"))
    assert flat.where(
        F.coalesce(F.size("outline"), F.lit(0)) != 0
    ).count() == 0
    j.unpersist()


def _sink_files(docs_path):
    import glob

    files = glob.glob(os.path.join(docs_path, "**", "*.parquet"), recursive=True)
    return files, {os.path.basename(os.path.dirname(f)) for f in files}


def test_bucket_aligned_write_bounds_file_count(spark, corpus_dir, job_output, tmp_path):
    """The default docs write holds at most ~one file per non-empty
    bucket — not tasks × buckets (the 10^12-doc small-files hazard;
    measured 795 files for a 1000-doc run with unaligned placement) —
    with no regrouping shuffle before the write. A dedup mode that
    shuffles after extraction keeps the same bound."""
    out, _ = job_output
    files, buckets = _sink_files(os.path.join(out, "docs"))
    assert len(buckets) <= 16
    assert len(files) <= len(buckets) + 2, sorted(files)[:20]

    exact = str(tmp_path / "exact")
    # at this size AQE would coalesce the dedup shuffle into one task,
    # which hides an unaligned write; keep its partitions apart
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        run_job(spark, os.path.join(corpus_dir, "pages"), exact, n_buckets=16, dedup="exact")
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    files, buckets = _sink_files(os.path.join(exact, "docs"))
    assert len(buckets) <= 16
    assert len(files) <= len(buckets) + 2, sorted(files)[:20]


def test_default_docs_plan_has_one_shuffle(spark, corpus_dir, tmp_path, monkeypatch):
    """Scan to sink in one shuffle: the frame the default run hands to
    the docs parquet writer holds exactly the placement exchange — no
    regrouping exchange before the write."""
    writer_cls = type(spark.range(1).write)
    written = {}
    real = writer_cls.parquet

    def spy(self, path, *a, **kw):
        written[os.path.basename(path)] = self._df
        return real(self, path, *a, **kw)

    monkeypatch.setattr(writer_cls, "parquet", spy)
    run_job(spark, os.path.join(corpus_dir, "pages"), str(tmp_path / "o"), n_buckets=16)
    plan = written["docs"]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
