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


@pytest.fixture(scope="session")
def spark():
    from solrizer_spark.session import get_spark

    spark = get_spark(app_name="solrizer-spark-tests", cpus=4, shuffle_partitions=8)
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
