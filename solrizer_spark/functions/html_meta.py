"""HTML document-metadata extractors — pure JVM Column expressions.

Engine-original surface (trafilatura/newspaper-style page metadata),
complementing the kernel extraction route: where the reference's field
chain derives doc fields from repository metadata (reference
src/solrizer/indexers/content_model.py:59-371), a Common-Crawl-style
corpus must pull the equivalent signals out of the page itself —
declared charset, canonical URL, Open Graph title, meta description,
publication date.

Everything here is ``regexp_extract`` over the (already decoded) html
string: whole-stage-codegen JVM regex, zero Python, so it runs at scan
throughput and survives a 10^12-row corpus without a UDF in the plan.
Patterns are deliberately RE2-compatible (no lookarounds, no
backreferences) so the DuckDB oracle can run the *same* pattern when a
query chooses to mirror extraction rather than derive ground truth.

Misses return NULL (Spark's empty-match '' is normalized), mirroring
the engine-wide facet null-suppression convention (§2.3).
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# attribute soup between the anchor attribute and the value is matched
# non-greedily with [^>]*? — bounded by the tag close, never spanning
# tags, so a missing attribute cannot capture from a *later* tag
_CHARSET_PAT = r"""<meta[^>]*?charset\s*=\s*["']?\s*([a-zA-Z0-9._:-]+)"""
_CANONICAL_PAT = r"""<link[^>]*?rel\s*=\s*["']canonical["'][^>]*?href\s*=\s*["']([^"']+)["']"""
_OG_TITLE_PAT = r"""<meta[^>]*?property\s*=\s*["']og:title["'][^>]*?content\s*=\s*["']([^"']*)["']"""
_DESCRIPTION_PAT = r"""<meta[^>]*?name\s*=\s*["']description["'][^>]*?content\s*=\s*["']([^"']*)["']"""
_PUBLISHED_META_PAT = (
    r"""<meta[^>]*?property\s*=\s*["']article:published_time["'][^>]*?content\s*=\s*["']([^"']+)["']"""
)
_TIME_DATETIME_PAT = r"""<time[^>]*?datetime\s*=\s*["']([^"']+)["']"""
_HTML_LANG_PAT = r"""<html[^>]*?\slang\s*=\s*["']?([a-zA-Z][a-zA-Z0-9-]{1,34})"""
_ROBOTS_PAT = r"""<meta[^>]*?name\s*=\s*["']robots["'][^>]*?content\s*=\s*["']([^"']*)["']"""


def _nullify(col: Column) -> Column:
    """Spark regexp_extract yields '' on a miss; make misses NULL."""
    return F.when(col != "", col)


def meta_charset(html: Column) -> Column:
    """Declared charset label, lower-cased (meta charset / http-equiv)."""
    return _nullify(F.lower(F.regexp_extract(html, _CHARSET_PAT, 1)))


def canonical_url(html: Column) -> Column:
    """``<link rel="canonical" href=...>`` target."""
    return _nullify(F.regexp_extract(html, _CANONICAL_PAT, 1))


def og_title(html: Column) -> Column:
    """Open Graph ``og:title`` content."""
    return _nullify(F.regexp_extract(html, _OG_TITLE_PAT, 1))


def meta_description(html: Column) -> Column:
    """``<meta name="description">`` content."""
    return _nullify(F.regexp_extract(html, _DESCRIPTION_PAT, 1))


def published_time(html: Column) -> Column:
    """Publication timestamp as an ISO-8601 *string*.

    Preference cascade (trafilatura's date heuristics, reduced to the
    two machine-readable carriers): ``article:published_time`` meta,
    else the first ``<time datetime=...>``. Returned as the raw
    declared string — casting to timestamp is the caller's choice, so
    a malformed date on one page degrades to NULL there, not to a
    cast failure for the batch.
    """
    meta = _nullify(F.regexp_extract(html, _PUBLISHED_META_PAT, 1))
    time_tag = _nullify(F.regexp_extract(html, _TIME_DATETIME_PAT, 1))
    return F.coalesce(meta, time_tag)


def html_lang(html: Column) -> Column:
    """BCP-47 tag declared on the ``<html lang=...>`` element,
    lower-cased — the page's *claimed* language, to be reconciled with
    content language-ID (``functions/text_stats.langid``) downstream."""
    return _nullify(F.lower(F.regexp_extract(html, _HTML_LANG_PAT, 1)))


def meta_robots(html: Column) -> Column:
    """``<meta name="robots">`` directives, lower-cased (noindex /
    nofollow / none...) — a crawl-and-curation signal: pages declaring
    noindex are frequently login walls, search results, or staging
    junk a training pipeline wants to downweight or drop."""
    return _nullify(F.lower(F.regexp_extract(html, _ROBOTS_PAT, 1)))


def page_metadata(html: Column) -> dict[str, Column]:
    """All extractors as a name→Column dict, for select-splat use."""
    return {
        "declared_charset": meta_charset(html),
        "declared_lang": html_lang(html),
        "canonical_url": canonical_url(html),
        "og_title": og_title(html),
        "meta_description": meta_description(html),
        "published_time": published_time(html),
        "meta_robots": meta_robots(html),
    }
