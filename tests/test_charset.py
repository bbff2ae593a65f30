"""Charset sniffing + rescue decode (extraction/charset.py).

Engine-original surface: the reference operates on already-decoded
strings (reference src/solrizer/indexers/extracted_text.py:105-107);
a Common-Crawl-shaped corpus needs the decode itself to be a tolerant,
never-raising operator. Strict-UTF-8-first keeps every reference
fixture byte-identical; these tests pin the rescue ladder.
"""
from __future__ import annotations

import pytest

from solrizer_spark.extraction.charset import (
    decode_html_bytes,
    normalize_label,
    sniff_charset,
)
from solrizer_spark.extraction.html_text import extract_html


# --------------------------------------------------------------- sniffing

def test_bom_wins_over_meta():
    payload = b"\xef\xbb\xbf" + b"<meta charset='shift_jis'><p>x</p>"
    assert sniff_charset(payload) == ("utf-8-sig", "bom")
    assert sniff_charset(b"\xff\xfeab") == ("utf-16", "bom")
    assert sniff_charset(b"\xfe\xffab") == ("utf-16", "bom")


def test_meta_charset_forms():
    assert sniff_charset(b'<meta charset="windows-1251">') == ("windows-1251", "meta")
    assert sniff_charset(b"<meta charset=GB2312>") == ("gb18030", "meta")
    assert sniff_charset(
        b'<meta http-equiv="Content-Type" content="text/html; charset=Shift_JIS">'
    ) == ("shift_jis", "meta")
    # latin-1 family means windows-1252 on the web (WHATWG)
    assert sniff_charset(b"<meta charset='ISO-8859-1'>") == ("windows-1252", "meta")


def test_xml_decl():
    assert sniff_charset(b'<?xml version="1.0" encoding="ISO-8859-2"?><page/>') == (
        "iso-8859-2",
        "xml_decl",
    )


def test_meta_utf16_is_treated_as_utf8():
    # a meta readable by the ASCII prescan cannot really be UTF-16
    assert sniff_charset(b"<meta charset='utf-16'>")[0] in (None, "utf-8")


def test_unknown_label_and_none():
    assert sniff_charset(b"<meta charset='klingon-9'>") == (None, "none")
    assert sniff_charset(b"<p>plain ascii, no declaration</p>") == (None, "none")
    assert normalize_label("UTF8") == "utf-8"
    assert normalize_label("nonsense") is None


def test_commented_declaration_ignored():
    # WHATWG prescan skips comments: a charset inside <!-- --> is inert
    assert sniff_charset(b"<!-- <meta charset='koi8-r'> --><p>x</p>") == (
        None,
        "none",
    )
    # declaration AFTER a closed comment still wins
    assert sniff_charset(b"<!-- hi --><meta charset='koi8-r'>") == (
        "koi8-r",
        "meta",
    )
    # unclosed comment swallows the rest of the head
    assert sniff_charset(b"<!-- unclosed <meta charset='koi8-r'>") == (
        None,
        "none",
    )


def test_prescan_window_bounded():
    # declaration past the prescan window is ignored (bounded scan —
    # the kernel never regex-scans a 100 MB page head-to-tail)
    payload = b"<!--" + b"x" * 4096 + b"--><meta charset='koi8-r'>"
    assert sniff_charset(payload) == (None, "none")


# ----------------------------------------------------------------- decode

def test_strict_utf8_fast_path_is_identity():
    text, enc, src = decode_html_bytes("héllo <p>ü</p>".encode("utf-8"))
    assert (text, enc, src) == ("héllo <p>ü</p>", "utf-8", "strict")


def test_declared_rescue():
    body = "<meta charset='windows-1251'><p>Привет</p>"
    raw = body.encode("windows-1251")
    text, enc, src = decode_html_bytes(raw)
    assert (enc, src) == ("windows-1251", "meta")
    assert "Привет" in text


def test_shift_jis_rescue():
    body = '<meta http-equiv="content-type" content="text/html; charset=shift_jis"><p>日本語</p>'
    raw = body.encode("shift_jis")
    text, enc, src = decode_html_bytes(raw)
    assert (enc, src) == ("shift_jis", "meta")
    assert "日本語" in text


def test_utf16_bom_rescue():
    raw = "<p>wide</p>".encode("utf-16")  # Python prepends the LE BOM
    text, enc, src = decode_html_bytes(raw)
    assert (enc, src) == ("utf-16", "bom")
    assert text == "<p>wide</p>"


def test_fallback_never_fails():
    # undeclared cp1252 high bytes: strict fails, no declaration →
    # windows-1252 floor (every byte sequence is valid under replace)
    raw = b"<p>caf\xe9 \x93quoted\x94</p>"
    text, enc, src = decode_html_bytes(raw)
    assert (enc, src) == ("windows-1252", "fallback")
    assert "café" in text and "“quoted”" in text


def test_lying_declaration_falls_back():
    # declares shift_jis but the bytes are not valid shift_jis → floor
    raw = b"<meta charset='shift_jis'>\x81\x39\xfd\xfe"
    text, enc, src = decode_html_bytes(raw)
    assert src == "fallback"
    assert enc == "windows-1252"


def test_http_header_precedence():
    """WHATWG source order: BOM > HTTP header > in-document meta."""
    # header beats a (lying) meta
    body = "<meta charset='windows-1251'><p>日本</p>".encode("shift_jis")
    text, enc, src = decode_html_bytes(body, http_charset="shift_jis")
    assert (enc, src) == ("shift_jis", "http")
    assert "日本" in text
    # BOM beats the header
    bom_body = "<p>wide</p>".encode("utf-16")
    _, enc, src = decode_html_bytes(bom_body, http_charset="shift_jis")
    assert (enc, src) == ("utf-16", "bom")
    # strict UTF-8 never consults the header
    _, enc, src = decode_html_bytes("é".encode(), http_charset="shift_jis")
    assert src == "strict"
    # lying header falls through to the meta declaration
    ru = "<meta charset='windows-1251'><p>Привет</p>".encode("windows-1251")
    bad = b"\x81\x39" + ru  # invalid shift_jis prefix
    _, enc, src = decode_html_bytes(bad, http_charset="shift_jis")
    assert src in ("meta", "fallback")  # header rejected, ladder continues
    # unknown header label is ignored entirely
    _, enc, src = decode_html_bytes(ru, http_charset="klingon-9")
    assert (enc, src) == ("windows-1251", "meta")


# ---------------------------------------------------------- properties

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_decode_total_function(payload):
    """decode_html_bytes is total: never raises, always returns str,
    and reports strict exactly when the bytes are valid UTF-8."""
    if not payload:
        return
    text, enc, src = decode_html_bytes(payload)
    assert isinstance(text, str)
    try:
        payload.decode("utf-8")
        valid_utf8 = True
    except UnicodeDecodeError:
        valid_utf8 = False
    assert (src == "strict") == valid_utf8
    if src == "strict":
        assert text == payload.decode("utf-8")
    if src == "fallback":
        # the floor decode is lossless cp1252-with-replacement: same
        # length in chars as bytes (cp1252 is single-byte)
        assert len(text) == len(payload)


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=2048))
def test_sniff_total_function(payload):
    codec, src = sniff_charset(payload)
    assert src in ("bom", "xml_decl", "meta", "none")
    assert (codec is None) == (src == "none")


# ------------------------------------------------- end-to-end extraction

def test_extract_html_rescues_cp1251_page():
    body = (
        "<html><head><meta charset='windows-1251'><title>Тест</title></head>"
        "<body><p>Привет мир</p></body></html>"
    )
    r = extract_html(body.encode("windows-1251"))
    assert not r.parse_failed
    assert r.encoding == "windows-1251"
    assert r.charset_source == "meta"
    assert "Привет мир" in (r.raw_text or "")
    assert r.title == "Тест"


def test_extract_html_utf8_unchanged():
    r = extract_html("<html><body><p>plain</p></body></html>".encode())
    assert (r.encoding, r.charset_source) == ("utf-8", "strict")


@pytest.mark.parametrize("backend", ["stdlib", "c"])
def test_rescue_is_backend_independent(backend):
    if backend == "c":
        from solrizer_spark.extraction import cscan

        if not cscan.load():
            pytest.skip("no C toolchain on this image")
    body = "<meta charset='windows-1251'><p>Привет</p>"
    r = extract_html(body.encode("windows-1251"), backend=backend)
    assert not r.parse_failed and "Привет" in (r.raw_text or "")
