"""EDTF kernel tests — table-driven from the reference's own
documentation corpus (docs/EDTFtoDateRange.md), mirroring the
reference's markdown-driven test technique
(tests/indexers/test_dates.py:35-74)."""

import os
import re

import pytest

from solrizer_spark.extraction.edtf_dates import (
    EDTFParseError,
    UnsupportedEDTF,
    edtf_fields,
    edtf_precision,
    solr_date_range,
)

DOC = "/root/reference/docs/EDTFtoDateRange.md"

_ROW = re.compile(r"^\|\s*`([^`]+)`\s*\|(.*)\|\s*$")


def _load_tables():
    """Parse all markdown tables with EDTF + expected columns."""
    if not os.path.exists(DOC):
        return [], [], []
    range_cases, flag_cases, precision_cases = [], [], []
    headers: list[str] = []
    section = ""
    for line in open(DOC, encoding="utf-8"):
        if line.startswith("#"):
            section = line.strip("# \n").lower()
            continue
        if line.startswith("|") and "EDTF" in line:
            headers = [h.strip() for h in line.strip().strip("|").split("|")]
            continue
        m = _ROW.match(line.strip())
        if not m or not headers or "not supported" in section:
            continue
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        row = dict(zip(headers, cells))
        edtf = row.get("EDTF", "").strip("`")
        if not edtf:
            continue
        if "Solr DateRange" in row:
            expected = row["Solr DateRange"].strip("`")
            range_cases.append((edtf, expected))
            if "Uncertain?" in row:
                flag_cases.append(
                    (
                        edtf,
                        bool(row.get("Uncertain?", "").strip()),
                        bool(row.get("Approximate?", "").strip()),
                        bool(row.get("Uncertain and Approximate?", "").strip()),
                    )
                )
        if "Precision" in row and row.get("Precision", "").strip():
            precision_cases.append((edtf, int(row["Precision"].strip())))
    return range_cases, flag_cases, precision_cases


RANGE_CASES, FLAG_CASES, PRECISION_CASES = _load_tables()

needs_reference_docs = pytest.mark.skipif(
    not os.path.exists(DOC), reason="reference docs unavailable"
)


@needs_reference_docs
def test_corpus_loaded():
    assert len(RANGE_CASES) >= 60
    assert len(PRECISION_CASES) >= 40


@needs_reference_docs
@pytest.mark.parametrize(("edtf", "expected"), RANGE_CASES)
def test_solr_date_range_corpus(edtf, expected):
    assert solr_date_range(edtf) == expected


@needs_reference_docs
@pytest.mark.parametrize(("edtf", "unc", "approx", "both"), FLAG_CASES)
def test_qualifier_flags_corpus(edtf, unc, approx, both):
    f = edtf_fields(edtf)
    assert f["is_uncertain"] is unc
    assert f["is_approximate"] is approx
    assert f["is_uncertain_and_approximate"] is both


@needs_reference_docs
@pytest.mark.parametrize(("edtf", "precision"), PRECISION_CASES)
def test_precision_corpus(edtf, precision):
    assert edtf_precision(edtf) == precision


# standalone pins (subset of the corpus, kept inline so the suite is
# self-contained without /root/reference)
@pytest.mark.parametrize(
    ("edtf", "expected"),
    [
        ("1605-11-05", "1605-11-05"),
        ("1984", "1984"),
        ("2004-06/2006-08", "[2004-06 TO 2006-08]"),
        ("../1985", "[* TO 1985]"),
        ("1985-04-12/..", "[1985-04-12 TO *]"),
        ("2024-11-18T11:49:32-05:00", "2024-11-18T16:49:32Z"),
        ("2001-24", "[2001-12-01 TO 2001-12-31]"),
        ("1992-09-XX", "[1992-09-01 TO 1992-09-30]"),
        ("19XX", "[1900-01-01 TO 1999-12-31]"),
        ("Y-6E1", "[-060-01-01 TO -060-12-31]"),
        ("2024?", "2024"),
        ("1945-06~-15/1959", "[1945-06-15 TO 1959]"),
        ("1945/1959-06-~15", "[1945 TO 1959-06-15]"),
        ("-0009", "-0009"),
    ],
)
def test_solr_date_range_inline(edtf, expected):
    assert solr_date_range(edtf) == expected


def test_unsupported_and_invalid():
    with pytest.raises(UnsupportedEDTF):
        solr_date_range("Y17E7")  # exponent > 3 (dates.py:106-111)
    with pytest.raises(UnsupportedEDTF):
        solr_date_range("Y170000")  # long year (dates.py:114-118)
    with pytest.raises(EDTFParseError):
        solr_date_range("not-a-date")
    with pytest.raises(EDTFParseError):
        solr_date_range("")


def test_leap_year_month_bounds():
    assert solr_date_range("2024-02-XX") == "[2024-02-01 TO 2024-02-29]"
    assert solr_date_range("2023-02-XX") == "[2023-02-01 TO 2023-02-28]"
