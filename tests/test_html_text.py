"""Byte-identity golden tests for the HTML extraction kernel.

Expected strings are the reference suite's own assertions
(tests/indexers/test_extracted_text.py:40 and :52), run against the
reference's fixture payloads — the authoritative "byte-identical
extracted text per url" gate from BASELINE.json.
"""

from conftest import reference_fixture

from solrizer_spark.extraction import extract_html, get_text
from solrizer_spark.extraction.html_text import classify_blocks


def test_reference_html_fixture_byte_identity():
    # reference expected string: test_extracted_text.py:52
    payload = reference_fixture("text.html")
    assert get_text(payload) == (
        "\nThis is a test, sample, and\nstand-in for an HTML file\n(with some text)\n"
    )


def test_reference_plaintext_fixture_passthrough():
    # plain-text route returns bytes unaltered (extracted_text.py:109-111)
    payload = reference_fixture("text.txt")
    assert payload.decode() == (
        "This is a test, sample, and\nstand-in for a plain text\nOCR file.\n"
    )


def test_get_text_entities_decoded():
    assert get_text(b"<p>a &amp; b &lt;c&gt; &#65;</p>") == "a & b <c> A"


def test_get_text_excludes_script_style_comments():
    html = b"""<html><head><title>T</title><style>p{color:red}</style>
<script>var x=1;</script></head><body><!-- hidden --><p>visible</p></body></html>"""
    text = get_text(html)
    assert "visible" in text
    assert "color" not in text
    assert "var x" not in text
    assert "hidden" not in text
    assert "T" in text  # title text is a text node in document order


def test_extract_title():
    r = extract_html(b"<html><head><title> My  Page </title></head><body><p>x</p></body></html>")
    assert r.title == "My Page"


def test_malformed_inputs_never_raise():
    for payload in [None, b"", ""]:
        r = extract_html(payload)
        assert r.parse_failed
        assert r.error == "empty_html"
    # non-UTF-8 bytes are no longer a failure: the charset rescue
    # decodes them (here via the UTF-16 BOM) instead of dropping them
    r = extract_html(b"\xff\xfe\x00bad")
    assert not r.parse_failed
    assert r.charset_source == "bom"
    # truncated markup parses tolerantly instead of failing
    r = extract_html(b"<html><p>unclosed <b>bold")
    assert not r.parse_failed
    assert r.raw_text == "unclosed bold"


def test_block_segmentation_and_order():
    html = b"""<html><body>
    <h1>Heading One</h1>
    <p>First paragraph with enough words here.</p>
    <div>Second block also has plenty of words.</div>
    <p>Third block closes out the page content.</p>
    </body></html>"""
    r = extract_html(html)
    texts = [b.text for b in r.blocks]
    assert texts == [
        "Heading One",
        "First paragraph with enough words here.",
        "Second block also has plenty of words.",
        "Third block closes out the page content.",
    ]
    assert [b.block_index for b in r.blocks] == [0, 1, 2, 3]
    assert all(b.kept for b in r.blocks)


def test_boilerplate_classification():
    html = b"""<html><body>
    <nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>
    <div class="menu"><a href="1">one</a> <a href="2">two</a> <a href="3">three</a>
      <a href="4">four</a> <a href="5">five</a></div>
    <article><p>This is the real main content of the page, long enough
    to be unambiguous and entirely free of links.</p></article>
    <footer>Copyright 2026 Example Corp</footer>
    </body></html>"""
    r = extract_html(html)
    kept = [b.text for b in r.blocks if b.kept]
    dropped = [b.text for b in r.blocks if not b.kept]
    assert kept == [
        "This is the real main content of the page, long enough to be unambiguous "
        "and entirely free of links."
    ]
    assert any("Home" in t for t in dropped)  # nav container
    assert any("one" in t for t in dropped)  # link farm: high link density
    assert any("Copyright" in t for t in dropped)  # footer container


def test_link_density_feature():
    html = b'<html><body><p><a href="x">all link text here</a></p></body></html>'
    r = extract_html(html)
    assert len(r.blocks) == 1
    assert r.blocks[0].link_density == 1.0
    assert not r.blocks[0].kept


def test_classifier_is_deterministic_and_idempotent():
    html = b"<html><body><p>Some ordinary content paragraph.</p></body></html>"
    r1, r2 = extract_html(html), extract_html(html)

    def blocks(r):
        return [(b.as_dict(), b.in_boilerplate_container) for b in r.blocks]

    assert blocks(r1) == blocks(r2)
    classify_blocks(r1.blocks)
    assert blocks(r1) == blocks(r2)
