"""The extraction stage — the engine's single Python hot path.

One Arrow-vectorized pandas UDF maps ``(html binary, text string)`` →
a typed extraction struct. The kernel decides each record's
``extracted_text`` itself; everything downstream (routing flags,
metrics, field naming) is native Spark SQL over the struct, keeping
the Python surface to one boundary and the rest of the plan inside
WholeStageCodegen.

Reference semantics re-expressed (src/solrizer/indexers/extracted_text.py):

* content routing OCR → PDF → HTML → plain text (get_text_page,
  extracted_text.py:76-111) becomes payload sniffing inside the UDF
  (``route`` field);
* HTML route: the kept blocks' text when the boilerplate classifier
  (SURVEY.md §2.12) dropped any block, else the get_text-equivalent
  markup strip;
* OCR route: ``word|n={page}&xywh={x,y,w,h}`` tokens
  (extracted_text.py:114-119), detected for ALTO / hOCR / OCR1;
* plain route: ``text`` passthrough unaltered (extracted_text.py:109-111);
* failures never raise — they land in ``parse_failed``/``error`` and
  the metrics table (IndexerError analog, extracted_text.py:100-103).
"""

from __future__ import annotations

import functools
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from solrizer_spark.extraction.html_text import extract_html
from solrizer_spark.extraction.pdf_text import extract_pdf_text, pdf_title
from solrizer_spark.extraction.tagged import (
    OCR1_MAGIC,
    UnrecognizedOCRFormatError,
    extract_tagged_words,
    tagged_text,
)

BLOCK_TYPE = T.StructType(
    [
        T.StructField("block_index", T.IntegerType()),
        T.StructField("tag_path", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("n_words", T.IntegerType()),
        T.StructField("link_chars", T.IntegerType()),
        T.StructField("link_density", T.DoubleType()),
        T.StructField("text_density", T.DoubleType()),
        T.StructField("kept", T.BooleanType()),
    ]
)

#: The extraction record: scalars only. Shipping the nested block
#: array through Arrow costs ~9× the extraction kernel itself
#: (measured: list-of-struct conversion dominates the batch), so the
#: kernel resolves main-vs-raw text itself and the default stage sends
#: back flat columns; the block array is opt-in (``include_blocks``)
#: for the consumers that read it.
EXTRACT_FAST_TYPE = T.StructType(
    [
        T.StructField("route", T.StringType()),  # html | pdf | plain | tagged | failed
        T.StructField("extracted_text", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("parse_failed", T.BooleanType()),
        T.StructField("error", T.StringType()),
        T.StructField("bytes_in", T.IntegerType()),
        T.StructField("blocks_kept", T.IntegerType()),
        T.StructField("blocks_dropped", T.IntegerType()),
        #: how the html payload's bytes were decoded ("strict" | "bom"
        #: | "xml_decl" | "meta" | "fallback"); NULL for routes that
        #: never decode via the charset ladder (plain/tagged/pdf/failed)
        T.StructField("charset_source", T.StringType()),
        #: declared <link rel=canonical> target (html route only) —
        #: the key ``--dedup canonical`` / curate ``canonicaldedup`` group on
        T.StructField("canonical_url", T.StringType()),
        #: robots-meta noindex/none declared (html route; False elsewhere)
        T.StructField("is_noindex", T.BooleanType()),
    ]
)

#: what every route but html leaves at its default
_NOT_HTML = {
    "title": None,
    "parse_failed": False,
    "error": None,
    "blocks_kept": 0,
    "blocks_dropped": 0,
    "charset_source": None,
    "canonical_url": None,
    "is_noindex": False,
    "blocks": None,
}
_FAILED = {**_NOT_HTML, "route": "failed", "extracted_text": None, "parse_failed": True, "bytes_in": 0}

#: payload sniff window (bytes) for OCR-format markers
_SNIFF = 4096
_OCR_MARKERS = (b"<alto", b"ocrx_word", b"ocr_page")

#: rel=canonical target, scanned on the RAW bytes head (hrefs are
#: ASCII on the real web; byte-level keeps it charset-independent and
#: zero-cost beyond one bounded regex) — feeds ``--dedup canonical``
_CANONICAL_WINDOW = 8192
_PY_CANONICAL = re.compile(
    rb"""<link[^>]*?rel\s*=\s*["']canonical["'][^>]*?href\s*=\s*["']([^"']+)["']""",
    re.IGNORECASE,
)


def _canonical_from_head(html: bytes) -> str | None:
    m = _PY_CANONICAL.search(html[:_CANONICAL_WINDOW])
    if m is None:
        return None
    return m.group(1).decode("latin-1")


#: robots-meta noindex/none declaration, same bounded byte-level scan
#: (the engine's only noindex rule; the docs table and its metrics read it)
_PY_ROBOTS = re.compile(
    rb"""<meta[^>]*?name\s*=\s*["']robots["'][^>]*?content\s*=\s*["']([^"']*)["']""",
    re.IGNORECASE,
)
_NOINDEX_TOKEN = re.compile(rb"(^|[,\s])(noindex|none)([,\s]|$)", re.IGNORECASE)


def _noindex_from_head(html: bytes) -> bool:
    m = _PY_ROBOTS.search(html[:_CANONICAL_WINDOW])
    return bool(m and _NOINDEX_TOKEN.search(m.group(1)))


def _extract_one(
    html: bytes | None,
    text: str | None,
    dpi: tuple[int, int],
    http_charset: str | None = None,
) -> dict:
    """Pure per-record kernel; the UDF maps this over Arrow batches.

    Returns the ``EXTRACT_FAST_TYPE`` fields plus ``blocks`` (the html
    route's scored ``Block`` objects, ``None`` on every other route)."""
    if html is not None and len(html) > 0:
        head = html[:_SNIFF]
        is_tagged = head.lstrip()[:4] == OCR1_MAGIC.encode() or any(
            m in head for m in _OCR_MARKERS
        )
        if is_tagged:
            # broad except: a malformed ALTO/hOCR payload (truncated
            # XML → ParseError, missing attrs → KeyError) must never
            # escape the UDF and fail the job; a sniff false-positive
            # (an ordinary page that merely mentions 'ocr_page') falls
            # back to the HTML route below instead of being dropped
            try:
                words = extract_tagged_words(html, dpi=dpi)
                return {
                    **_NOT_HTML,
                    "route": "tagged",
                    "extracted_text": tagged_text(words, page_index=0),
                    "bytes_in": len(html),
                }
            except UnrecognizedOCRFormatError:
                pass  # not OCR after all → HTML route
            except Exception as e:
                return {**_FAILED, "error": f"ocr_error:{type(e).__name__}", "bytes_in": len(html)}
        if head.lstrip()[:5] == b"%PDF-":
            # binary-PDF route (north rule "PDF/layout parse" — the
            # layout half is the tagged route above): stdlib kernel,
            # never raises; unrecoverable text → parse_failed metrics
            pdf_text = extract_pdf_text(html)
            if not pdf_text:
                return {**_FAILED, "error": "pdf_no_text", "bytes_in": len(html)}
            return {
                **_NOT_HTML,
                "route": "pdf",
                "extracted_text": pdf_text,
                "title": pdf_title(html),
                "bytes_in": len(html),
            }
        result = extract_html(html, http_charset=http_charset)
        if result.parse_failed:
            return {**_FAILED, "error": result.error, "bytes_in": len(html)}
        blocks = result.blocks
        kept = sum(1 for b in blocks if b.kept)
        dropped = len(blocks) - kept
        return {
            "route": "html",
            # boilerplate detected ⇒ main-content text (kept blocks in
            # document order); clean page ⇒ raw markup-strip bytes
            # (get_text parity)
            "extracted_text": (
                "\n".join(b.text for b in blocks if b.kept) if dropped else result.raw_text
            ),
            "title": result.title,
            "parse_failed": False,
            "error": None,
            "bytes_in": len(html),
            "blocks_kept": kept,
            "blocks_dropped": dropped,
            "charset_source": result.charset_source,
            "canonical_url": _canonical_from_head(html),
            "is_noindex": _noindex_from_head(html),
            # Block objects, not dicts: only ``include_blocks`` pays
            # for the per-block ``as_dict``
            "blocks": blocks,
        }
    if text is not None:
        # plain-text passthrough, unaltered (extracted_text.py:109-111)
        return {
            **_NOT_HTML,
            "route": "plain",
            "extracted_text": text,
            "bytes_in": len(text.encode("utf-8")),
        }
    return {**_FAILED, "error": "empty_html"}


def make_extract_udf(dpi: tuple[int, int] = (400, 400), include_blocks: bool = False):
    """The extraction UDF: ``EXTRACT_FAST_TYPE``, plus the scored
    ``blocks`` array when ``include_blocks`` (NULL off the html route,
    ``[]`` for an html page with no text block)."""
    schema = EXTRACT_FAST_TYPE
    if include_blocks:
        schema = T.StructType(
            [*EXTRACT_FAST_TYPE.fields, T.StructField("blocks", T.ArrayType(BLOCK_TYPE))]
        )

    @pandas_udf(schema)
    def extract_udf(
        html: pd.Series, text: pd.Series, http_charset: pd.Series
    ) -> pd.DataFrame:
        # columnar accumulation: dict-of-lists beats list-of-dicts for
        # the pandas→Arrow hop
        cols: dict[str, list] = {f.name: [] for f in schema.fields}
        for h, t, c in zip(html, text, http_charset):
            rec = _extract_one(
                h,
                t if isinstance(t, str) else None,
                dpi,
                c if isinstance(c, str) else None,
            )
            cols["route"].append(rec["route"])
            cols["extracted_text"].append(rec["extracted_text"])
            cols["title"].append(rec["title"])
            cols["parse_failed"].append(rec["parse_failed"])
            cols["error"].append(rec["error"])
            cols["bytes_in"].append(rec["bytes_in"])
            cols["blocks_kept"].append(rec["blocks_kept"])
            cols["blocks_dropped"].append(rec["blocks_dropped"])
            cols["charset_source"].append(rec["charset_source"])
            cols["canonical_url"].append(rec["canonical_url"])
            cols["is_noindex"].append(rec["is_noindex"])
            if include_blocks:
                blocks = rec["blocks"]
                cols["blocks"].append(
                    None if blocks is None else [b.as_dict() for b in blocks]
                )
        return pd.DataFrame(cols)

    return extract_udf


def page_outline(blocks: Column) -> Column:
    """Heading hierarchy from the scored block array:
    ``array<struct<level int, text string>>`` in document order —
    parser-grounded (block ``tag_path``, so headings inside scripts,
    comments, or dropped markup never appear; a raw-HTML regexp
    would), kept/dropped-agnostic (a nav-scored h2 is still part of
    the outline). Pure Column expressions over the detail-mode
    ``blocks`` column; zero Python, zero shuffle."""
    ordered = F.array_sort(
        F.filter(
            blocks,
            lambda b: F.element_at(F.split(b["tag_path"], "/"), -1).rlike(
                "^h[1-6]$"
            ),
        ),
        lambda a, b: F.when(a["block_index"] < b["block_index"], -1)
        .when(a["block_index"] > b["block_index"], 1)
        .otherwise(0),
    )
    return F.transform(
        ordered,
        lambda b: F.struct(
            F.substring(F.element_at(F.split(b["tag_path"], "/"), -1), 2, 1)
            .cast("int")
            .alias("level"),
            b["text"].alias("text"),
        ),
    )


def page_labels(pages: Column, title_field: str = "title") -> Column:
    """Ordered page labels (PageSequence.labels, page_sequence.py:67-71):
    each page's title, or the positional ``[Page N]`` placeholder
    (N 1-based by sequence position) when untitled. ``pages`` must
    already be in sequence order."""
    return F.transform(
        pages,
        lambda p, i: F.coalesce(
            p[title_field],
            F.concat(F.lit("[Page "), (i + 1).cast("string"), F.lit("]")),
        ),
    )


def extract_stage(
    df: DataFrame,
    dpi: tuple[int, int] = (400, 400),
    include_blocks: bool = False,
) -> DataFrame:
    """Add extraction columns to a pages DataFrame.

    Emits:
      - ``extracted_text``  the headline output (byte-identity target)
      - ``is_tagged``       delimited-payload flag → ``__dps_txt`` naming
      - ``title`` ``route`` ``parse_failed`` ``error``
      - ``blocks_kept``/``blocks_dropped``/``bytes_in`` metrics
      - ``blocks``          per-block detail, only when ``include_blocks``

    Both modes run the same kernel, so every scalar column, the text
    included, is the same bytes in either. ``include_blocks=False``
    (default) is the high-throughput path: only flat scalars cross the
    Arrow boundary. ``include_blocks=True`` also ships the scored block
    array for the consumers that read it (``page_outline``, child docs,
    ``job.py --outline``); the nested array makes that boundary ~9×
    slower.
    """
    # transport-layer charset label (WARC ingest's http_charset column)
    # feeds the decode ladder between BOM and in-document declarations;
    # corpora without the column pass a typed NULL (zero-cost: the
    # ladder only consults it after strict UTF-8 fails)
    layers = _extract_layers(tuple(dpi), include_blocks, "http_charset" in df.columns)
    return functools.reduce(DataFrame.withColumns, layers, df).drop("_ext")


@functools.cache
def _extract_layers(
    dpi: tuple[int, int], include_blocks: bool, has_charset: bool
) -> tuple[dict[str, Column], ...]:
    """The stage's Columns, built once per process: the UDF call into
    ``_ext``, then the fields read from it. Each layer reads only the
    columns before it, so it is one ``withColumns``."""
    hint = F.col("http_charset") if has_charset else F.lit(None).cast("string")
    e = F.col("_ext")
    fields = {
        "route": e["route"],
        "title": e["title"],
        "parse_failed": e["parse_failed"],
        "error": e["error"],
        "bytes_in": e["bytes_in"],
        "is_tagged": e["route"] == F.lit("tagged"),
        "blocks_kept": e["blocks_kept"],
        "blocks_dropped": e["blocks_dropped"],
        "charset_source": e["charset_source"],
        "canonical_url": e["canonical_url"],
        "is_noindex": e["is_noindex"],
        "extracted_text": e["extracted_text"],
    }
    if include_blocks:
        fields["blocks"] = e["blocks"]
    udf = make_extract_udf(dpi, include_blocks)
    return ({"_ext": udf(F.col("html"), F.col("text"), hint)}, fields)
