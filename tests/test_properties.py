"""Property-based robustness tests (hypothesis) for the Spark-free
kernels — no payload may crash them, and they must be deterministic
(Spark task retries re-run kernels and demand identical bytes)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from solrizer_spark.extraction.edtf_dates import (
    EDTFParseError,
    UnsupportedEDTF,
    edtf_fields,
)
from solrizer_spark.extraction.html_text import extract_html
from solrizer_spark.extraction.tagged import (
    UnrecognizedOCRFormatError,
    extract_tagged_words,
)
from solrizer_spark.operators.multimodal import parse_media_header


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=2048))
def test_extract_html_never_raises(payload):
    r1 = extract_html(payload)
    r2 = extract_html(payload)
    def blocks(r):
        return [(b.as_dict(), b.in_boilerplate_container) for b in r.blocks]

    assert (r1.raw_text, r1.title, blocks(r1), r1.parse_failed, r1.error) == (
        r2.raw_text, r2.title, blocks(r2), r2.parse_failed, r2.error)
    if not r1.parse_failed:
        assert isinstance(r1.raw_text, str)
        for b in r1.blocks:
            assert 0.0 <= b.link_density <= 1.0
            assert b.n_words >= 1


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=128))
def test_extract_html_text_inputs(payload):
    r = extract_html(payload)
    assert r.parse_failed == (payload == "")


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=1024))
def test_tagged_ocr_never_hangs(payload):
    try:
        words = extract_tagged_words(payload)
        for w in words:
            assert isinstance(w.xywh, str)
    except (UnrecognizedOCRFormatError, UnicodeDecodeError, ValueError):
        pass  # rejection is the contract; crashing is not


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="0123456789-/?~%XYTE:.[]", max_size=24))
def test_edtf_total_over_garbage(s):
    """edtf_fields either returns a complete bundle or raises one of
    its two declared errors — never anything else."""
    try:
        f = edtf_fields(s)
        assert set(f) == {"dt", "is_uncertain", "is_approximate",
                          "is_uncertain_and_approximate", "precision"}
        assert isinstance(f["dt"], str) and f["dt"]
    except (EDTFParseError, UnsupportedEDTF, ValueError):
        pass


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=64))
def test_media_header_never_raises(payload):
    meta = parse_media_header(payload)
    assert meta["valid"] in (True, False)
    assert meta["n_bytes"] == len(payload)


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=400))
def test_warc_parser_never_raises(data):
    """Arbitrary bytes through the WARC record scanner: any outcome
    but an exception (10^12-row jobs cannot die on one bad archive)."""
    from solrizer_spark.sources.warc import parse_warc

    for row in parse_warc(data, source_file="fuzz"):
        assert row["source_file"] == "fuzz"


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.text(alphabet="abc", min_size=1, max_size=4), min_size=1, max_size=60),
    st.integers(min_value=2, max_value=12),
    st.integers(min_value=0, max_value=6),
)
def test_chunk_text_covers_document(tokens, chunk_tokens, overlap):
    """Dropping each chunk's `overlap` carried tokens (except the
    first chunk's) and concatenating reconstructs the document — no
    token lost, none duplicated beyond the declared overlap."""
    from hypothesis import assume

    assume(overlap < chunk_tokens)
    step = chunk_tokens - overlap
    text = " ".join(tokens)
    n = len(tokens)
    n_chunks = 1 if n <= chunk_tokens else -(-(n - chunk_tokens) // step) + 1
    # pure-python mirror of the Column expression (pinned to the Spark
    # implementation by the chunk_text oracle); assert the coverage
    # property of the chunking formula itself
    chunks = [tokens[i * step : i * step + chunk_tokens] for i in range(n_chunks)]
    covered = set()
    for i, c in enumerate(chunks):
        assert 1 <= len(c) <= chunk_tokens
        covered.update(range(i * step, i * step + len(c)))
    assert covered == set(range(n))
    assert text == " ".join(tokens)


_count_dicts = st.dictionaries(
    st.integers(min_value=0, max_value=31),
    st.integers(min_value=0, max_value=10_000),
    max_size=32,
)


@settings(max_examples=200, deadline=None)
@given(_count_dicts)
def test_dsir_identical_distributions_are_zero(counts):
    from solrizer_spark.operators.sampling import quantized_log_ratios

    out = quantized_log_ratios(counts, dict(counts), buckets=32)
    assert [q for _, q in out] == [0] * 32
    assert [f for f, _ in out] == list(range(32))


@settings(max_examples=200, deadline=None)
@given(_count_dicts, _count_dicts, st.integers(min_value=0, max_value=31),
       st.integers(min_value=1, max_value=1000))
def test_dsir_target_count_monotone(raw, tgt, f, bump):
    """Raising one feature's TARGET count never lowers its own
    log-ratio, and never raises any other feature's."""
    from solrizer_spark.operators.sampling import quantized_log_ratios

    base = dict(quantized_log_ratios(raw, tgt, buckets=32))
    bumped_tgt = dict(tgt)
    bumped_tgt[f] = bumped_tgt.get(f, 0) + bump
    bumped = dict(quantized_log_ratios(raw, bumped_tgt, buckets=32))
    assert bumped[f] >= base[f]
    for g in range(32):
        if g != f:
            assert bumped[g] <= base[g]
