import os
import shutil

import pytest

REFERENCE_FIXTURES = "/root/reference/tests/indexers/test_extracted_text"
REFERENCE_ROOT = REFERENCE_FIXTURES.split("/tests/")[0]


def reference_fixture(name: str) -> bytes:
    path = os.path.join(REFERENCE_FIXTURES, name)
    if not os.path.exists(path):
        pytest.skip(f"reference fixture {name} unavailable")
    with open(path, "rb") as fh:
        return fh.read()


def chain_doc(spark, url: str, html: bytes, lang: str | None = None,
              conf: dict | None = None) -> dict:
    """The ``doc`` JSON of one page run through ``DEFAULT_CHAIN``."""
    import datetime as dt
    import json

    from solrizer_spark.plans.pipeline import run_chain
    from solrizer_spark.session import local_df

    df = local_df(
        spark,
        [(url, dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc), html, None, lang)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    return json.loads(run_chain(df, conf=conf).select("doc").first().doc)


@pytest.fixture(scope="session")
def spark():
    from solrizer_spark.session import get_spark

    # -Xshare:auto is the JVM's default: it only turns the user's CDS
    # archive off, so the tests neither map it nor record one at exit
    spark = get_spark(
        app_name="solrizer-spark-tests", cpus=4, shuffle_partitions=8,
        extra_conf={"spark.driver.defaultJavaOptions": "-Xshare:auto"},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    """Small deterministic pages corpus written once per session."""
    from solrizer_spark.corpus.generator import write_corpus

    base = str(tmp_path_factory.mktemp("corpus"))
    write_corpus(base, n_pages=200, seed=42)  # → {base}/pages, {base}/golden
    yield base
    shutil.rmtree(base, ignore_errors=True)


def pytest_terminal_summary(terminalreporter):
    """Say how many reference gates (byte-identity fixtures, the EDTF
    table) skipped: a green run without the reference checkout has not
    exercised them."""
    reasons = [
        r.longrepr[2] for r in terminalreporter.stats.get("skipped", [])
        if isinstance(r.longrepr, tuple)
    ]
    n = sum("reference" in why and "unavailable" in why for why in reasons)
    if n:
        terminalreporter.write_line(
            f"{n} reference gates skipped (no {REFERENCE_ROOT})", yellow=True
        )
