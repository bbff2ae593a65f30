"""HTML → text extraction kernel (pure Python, stdlib only).

Two outputs per page:

* ``raw_text`` — markup-strip semantics equivalent to the reference's
  ``BeautifulSoup(html, features='lxml').get_text()`` call
  (reference: src/solrizer/indexers/extracted_text.py:105-107): the
  concatenation of all text nodes in document order with character/
  entity references decoded and nothing else altered. Byte-identity is
  pinned by golden tests copied from the reference suite
  (tests/indexers/test_extracted_text.py:52). Deviations (documented,
  deliberate — this is a *web main-content* engine, the reference never
  sees scripts): contents of ``<script>``/``<style>``/``<template>``
  and comments/doctypes are excluded.

* ``blocks`` — a boilerpipe/Readability-style segmentation of the DOM
  into text blocks scored by text density and link density, used for
  main-content extraction (the new-engine operator required by the
  north rule; no reference analog — the reference only strips markup).

The kernel is deterministic: same bytes in → same bytes out, no
ambient state, so Spark task retries/speculation cannot produce
divergent results.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from html.parser import HTMLParser

from solrizer_spark.extraction.charset import decode_html_bytes

__all__ = ["Block", "ExtractionResult", "extract_html", "get_text"]

#: Elements whose start or end terminates the current text block.
BLOCK_TAGS = frozenset(
    """html body main article section header footer nav aside
    p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd table thead tbody tr td th
    blockquote pre figure figcaption form fieldset address hr title
    caption center""".split()
)

#: Elements whose text content is never part of extracted text.
SKIP_TAGS = frozenset("script style template noscript".split())

#: Void elements (no end tag); never pushed on the open-tag stack.
VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

#: Containers that mark their whole subtree as boilerplate.
BOILERPLATE_CONTAINERS = frozenset("nav aside footer header".split())

#: link_density above this ⇒ block is boilerplate (boilerpipe's
#: classic threshold is 1/3).
LINK_DENSITY_THRESHOLD = 1.0 / 3.0

#: Blocks shorter than this (in words) that contain any link text are
#: treated as navigation crumbs.
MIN_WORDS_WITH_LINKS = 3

#: Canvas width used for the words-per-line text density (boilerpipe
#: uses an 80-column virtual canvas).
DENSITY_CANVAS_COLS = 80

# one dict lookup per tag instead of six frozenset probes (hot path)
_F_BLOCK, _F_VOID, _F_SKIP, _F_LINK, _F_BOILER, _F_TITLE = 1, 2, 4, 8, 16, 32
_TAG_FLAGS: dict[str, int] = {}
for _tags, _bit in (
    (BLOCK_TAGS, _F_BLOCK),
    (VOID_TAGS, _F_VOID),
    (SKIP_TAGS, _F_SKIP),
    (("a",), _F_LINK),
    (BOILERPLATE_CONTAINERS, _F_BOILER),
    (("title",), _F_TITLE),
):
    for _t in _tags:
        _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _bit


@dataclass(slots=True)
class Block:
    """One DOM text block with boilerplate-classification features.

    ``slots=True``: block construction is the marshaling hot path of
    the C kernel (tens of blocks per document at ~µs granularity)."""

    block_index: int
    tag_path: str
    text: str  # whitespace-normalized block text
    n_chars: int
    n_words: int
    link_chars: int
    link_density: float
    text_density: float
    in_boilerplate_container: bool
    kept: bool = False

    def as_dict(self) -> dict:
        """Slots replacement for ``vars()`` (hand-rolled: the UDF
        serialization path calls this per block; ``dataclasses.asdict``
        is ~10× slower via recursive deepcopy). The keys are exactly
        ``operators.extract.BLOCK_TYPE``'s fields;
        ``in_boilerplate_container`` is a classifier input, not an
        output column."""
        return {
            "block_index": self.block_index,
            "tag_path": self.tag_path,
            "text": self.text,
            "n_chars": self.n_chars,
            "n_words": self.n_words,
            "link_chars": self.link_chars,
            "link_density": self.link_density,
            "text_density": self.text_density,
            "kept": self.kept,
        }


@dataclass
class ExtractionResult:
    raw_text: str | None
    title: str | None
    blocks: list[Block] = field(default_factory=list)
    parse_failed: bool = False
    error: str | None = None
    #: how the binary payload was decoded ("utf-8" unless the charset
    #: rescue engaged); str inputs keep the defaults
    encoding: str = "utf-8"
    #: "strict" | "bom" | "xml_decl" | "meta" | "fallback"
    charset_source: str = "strict"


class _ExtractorState:
    """Backend-independent extractor sink: raw text stream + block
    segmentation, driven by a tag/data event stream. The stdlib
    ``HTMLParser`` reference (:class:`_Extractor`) feeds the four
    event methods; the C kernel (:mod:`solrizer_spark.extraction.cscan`)
    fills ``raw_parts``/``title_parts``/``blocks`` of a fresh instance
    directly, with the same block arithmetic, so both backends return
    the same object shape."""

    def __init__(self) -> None:
        self.raw_parts: list[str] = []
        self.title_parts: list[str] = []
        self.blocks: list[Block] = []
        self._stack: list[str] = []
        self._skip_depth = 0
        self._link_depth = 0
        self._boiler_depth = 0
        self._title_depth = 0
        self._buf: list[str] = []  # text of the current block
        self._buf_link_chars = 0

    # -- block bookkeeping -------------------------------------------------

    def _flush_block(self) -> None:
        if not self._buf:  # hot path: most block-tag boundaries carry no text
            self._buf_link_chars = 0
            return
        words = "".join(self._buf).split()
        link_chars = self._buf_link_chars
        self._buf = []
        self._buf_link_chars = 0
        if not words:
            return
        norm = " ".join(words)
        n_chars = len(norm)
        n_words = len(words)
        lines = max(1.0, n_chars / DENSITY_CANVAS_COLS)
        self.blocks.append(
            Block(
                block_index=len(self.blocks),
                tag_path="/".join(self._stack) or "html",
                text=norm,
                n_chars=n_chars,
                n_words=n_words,
                link_chars=min(link_chars, n_chars),
                link_density=min(link_chars, n_chars) / n_chars,
                text_density=n_words / lines,
                in_boilerplate_container=self._boiler_depth > 0,
            )
        )

    # -- event callbacks ----------------------------------------------------

    def _on_start(self, tag: str) -> None:
        f = _TAG_FLAGS.get(tag, 0)
        if f & _F_BLOCK:
            self._flush_block()
        if f & _F_VOID:
            return
        self._stack.append(tag)
        if f & ~(_F_BLOCK | _F_VOID):
            if f & _F_SKIP:
                self._skip_depth += 1
            if f & _F_LINK:
                self._link_depth += 1
            if f & _F_BOILER:
                self._boiler_depth += 1
            if f & _F_TITLE:
                self._title_depth += 1

    def _on_end(self, tag: str) -> None:
        f = _TAG_FLAGS.get(tag, 0)
        if f & _F_VOID:
            return
        if f & _F_BLOCK:
            self._flush_block()
        # pop to the matching open tag (tolerates misnesting)
        stack = self._stack
        if tag in stack:
            while stack:
                popped = stack.pop()
                pf = _TAG_FLAGS.get(popped, 0)
                if pf & ~(_F_BLOCK | _F_VOID):
                    if pf & _F_SKIP:
                        self._skip_depth -= 1
                    if pf & _F_LINK:
                        self._link_depth -= 1
                    if pf & _F_BOILER:
                        self._boiler_depth -= 1
                    if pf & _F_TITLE:
                        self._title_depth -= 1
                if popped == tag:
                    break

    def _on_startend(self, tag: str) -> None:
        if _TAG_FLAGS.get(tag, 0) & _F_BLOCK:
            self._flush_block()

    def _on_data(self, data: str) -> None:
        if self._skip_depth:
            return
        self.raw_parts.append(data)
        if self._title_depth:
            self.title_parts.append(data)
            return  # title is not part of main-content blocks
        self._buf.append(data)
        if self._link_depth:
            self._buf_link_chars += len(" ".join(data.split()))


class _Extractor(HTMLParser, _ExtractorState):
    """stdlib-``HTMLParser``-driven extractor: the parity-reference
    backend (exactly the round-1/2 kernel). It is the semantic oracle
    the C kernel is differential-tested against, the per-document
    fallback when the C kernel bails, and what ``auto`` runs on images
    without a C compiler (correct, ~4–6× slower than ``c``)."""

    def __init__(self) -> None:
        HTMLParser.__init__(self, convert_charrefs=True)
        _ExtractorState.__init__(self)

    def handle_starttag(self, tag: str, attrs) -> None:
        self._on_start(tag)

    def handle_endtag(self, tag: str) -> None:
        self._on_end(tag)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self._on_startend(tag)

    def handle_data(self, data: str) -> None:
        self._on_data(data)

    def close(self) -> None:
        super().close()
        self._flush_block()


def classify_blocks(blocks: list[Block]) -> None:
    """Boilerplate keep/drop decision, in place. Deterministic rules:

    1. anything inside a ``nav``/``aside``/``footer``/``header``
       subtree is boilerplate;
    2. link_density > 1/3 ⇒ boilerplate (link farms, menus);
    3. short blocks (< 3 words) containing any link text ⇒ crumbs;
    4. everything else is content.
    """
    for b in blocks:
        if b.in_boilerplate_container:
            b.kept = False
        elif b.link_density > LINK_DENSITY_THRESHOLD:
            b.kept = False
        elif b.n_words < MIN_WORDS_WITH_LINKS and b.link_chars > 0:
            b.kept = False
        else:
            b.kept = True


#: Default parse backend. ``auto`` resolves to ``c`` — the compiled
#: kernel (cscan/, built on first use with the system C compiler) —
#: when a toolchain is available, else to ``stdlib``, the
#: HTMLParser-driven parity reference. Compiler-less images are
#: supported for correctness only: ``stdlib`` costs ~110–180 µs/doc
#: against ~20–30 µs/doc for ``c``, and gcc ships on every image the
#: engine runs.
DEFAULT_BACKEND = "auto"


def _run_stdlib(text: str) -> _ExtractorState:
    parser = _Extractor()
    parser.feed(text)
    parser.close()
    return parser


def _run_c(text: str) -> _ExtractorState:
    """Compiled kernel; per-document stdlib fallback on its documented
    bail constructs (marked sections, non-ASCII tag names, potential
    case-folded CDATA closes), so parity holds by construction."""
    from solrizer_spark.extraction.cscan import run_cscan

    state = run_cscan(text)
    if state is None:
        return _run_stdlib(text)
    return state


_BACKENDS = {"c": _run_c, "stdlib": _run_stdlib}


def _resolve_backend(backend: str):
    """Loud config failure: a typo'd or retired backend name must fail
    the job, not silently quarantine every page as parse_failed.
    ``auto`` degrades silently (c → stdlib) by design: it is the "use
    the fastest correct kernel this node can run" setting."""
    from solrizer_spark.extraction import cscan

    if backend == "auto":
        backend = "c" if cscan.load() else "stdlib"
    try:
        run = _BACKENDS[backend]
    except KeyError:
        raise ValueError(f"unknown HTML backend {backend!r} (auto|c|stdlib)") from None
    if backend == "c" and not cscan.load():
        raise ImportError(
            "backend='c' selected but the cscan kernel cannot be "
            "built on this image (no C compiler?) — use 'auto' to "
            "fall back to the stdlib kernel"
        )
    return run


def extract_html(
    payload: bytes | str | None,
    backend: str | None = None,
    http_charset: str | None = None,
) -> ExtractionResult:
    """Parse one HTML payload into ``ExtractionResult``.

    Never raises on malformed input: it yields ``parse_failed=True``
    with an ``error`` tag, so a 10^12-row job cannot be failed by one
    bad page (reference analog: IndexerError quarantine paths,
    src/solrizer/indexers/extracted_text.py:100-103).

    ``backend`` selects the parse kernel, one of ``auto|c|stdlib``
    (default :data:`DEFAULT_BACKEND`); any other name raises
    ``ValueError``. ``c`` is the compiled kernel (``ImportError`` if it
    cannot be built here), ``stdlib`` the ``HTMLParser`` reference, and
    ``auto`` picks ``c`` when it loads, else ``stdlib``. Both kernels
    produce an ``_ExtractorState``, so block features and raw-text
    bytes are kernel-independent; c-vs-stdlib byte parity is pinned by
    the reference-fixture goldens and a differential fuzz suite.
    """
    if payload is None:
        return ExtractionResult(None, None, parse_failed=True, error="empty_html")
    if isinstance(payload, bytes):
        if not payload:
            return ExtractionResult(None, None, parse_failed=True, error="empty_html")
        # strict UTF-8 first (reference-identical for every valid-UTF-8
        # payload); non-UTF-8 pages are rescued by the charset sniffer
        # instead of dropped as decode_error — see extraction/charset.py
        text, encoding, charset_source = decode_html_bytes(payload, http_charset)
    else:
        if not payload:
            return ExtractionResult(None, None, parse_failed=True, error="empty_html")
        text = payload
        encoding, charset_source = "utf-8", "strict"
    run = _resolve_backend(backend or DEFAULT_BACKEND)
    try:
        state = run(text)
    except Exception as e:  # both kernels are tolerant; belt and braces
        return ExtractionResult(None, None, parse_failed=True, error=f"parse_error:{type(e).__name__}")
    blocks = state.blocks
    classify_blocks(blocks)
    title = " ".join("".join(state.title_parts).split()) or None
    return ExtractionResult(
        raw_text="".join(state.raw_parts),
        title=title,
        blocks=blocks,
        encoding=encoding,
        charset_source=charset_source,
    )


def get_text(payload: bytes | str) -> str:
    """Markup-strip only — the ``BeautifulSoup(...).get_text()``
    equivalent (reference: extracted_text.py:107). Valid UTF-8 decodes
    reference-identically; non-UTF-8 bytes go through the charset
    rescue (extraction/charset.py) instead of raising.
    """
    result = extract_html(payload)
    if result.parse_failed:
        raise ValueError(result.error or "parse failed")
    return result.raw_text or ""
