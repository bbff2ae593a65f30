"""Language code handling (public ISO 639 data only).

Reference semantics re-expressed:

* ``language_name`` (faceters.py:76-84, via iso639): bare 2- or
  3-letter codes map to the English language name; anything
  unmatched — including tags with script/region subtags — passes
  through unchanged (pinned by the reference's own cases,
  tests/indexers/test_faceters.py:46-57: 'en'→'English',
  'eng'→'English', 'ja-Latn'→'ja-Latn').
* ``language_suffix`` (content_model.py:204-239, via langcodes):
  standardize (3→2-letter primary subtag), lowercase, '-'→'_',
  prepend '_'. ('eng'→'_en', 'ja-Latn'→'_ja_latn',
  'jpn-LATN'→'_ja_latn').

Both are pure Column expressions over a small embedded ISO 639 table
(a hand-curated subset of the public ISO 639-1/-2 code list covering
the corpus languages; unmatched codes pass through, so coverage
gaps degrade gracefully exactly like the reference's fallback).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: ISO 639-1 code → English name (public ISO 639 data).
ISO639_NAMES: dict[str, str] = {
    "ar": "Arabic", "cs": "Czech", "da": "Danish", "de": "German",
    "el": "Greek", "en": "English", "es": "Spanish", "fi": "Finnish",
    "fr": "French", "he": "Hebrew", "hi": "Hindi", "hu": "Hungarian",
    "id": "Indonesian", "it": "Italian", "ja": "Japanese", "ko": "Korean",
    "nl": "Dutch", "no": "Norwegian", "pl": "Polish", "pt": "Portuguese",
    "ro": "Romanian", "ru": "Russian", "sv": "Swedish", "th": "Thai",
    "tr": "Turkish", "uk": "Ukrainian", "vi": "Vietnamese", "zh": "Chinese",
}

#: ISO 639-2/3 (bibliographic + terminologic) → ISO 639-1.
ISO639_3TO2: dict[str, str] = {
    "ara": "ar", "ces": "cs", "cze": "cs", "dan": "da", "deu": "de",
    "dut": "nl", "ell": "el", "eng": "en", "fin": "fi", "fra": "fr",
    "fre": "fr", "ger": "de", "gre": "el", "heb": "he", "hin": "hi",
    "hun": "hu", "ind": "id", "ita": "it", "jpn": "ja", "kor": "ko",
    "nld": "nl", "nor": "no", "pol": "pl", "por": "pt", "ron": "ro",
    "rum": "ro", "rus": "ru", "spa": "es", "swe": "sv", "tha": "th",
    "tur": "tr", "ukr": "uk", "vie": "vi", "zho": "zh", "chi": "zh",
}


def _litmap(d: dict[str, str]) -> Column:
    """``d`` as a map literal — built once per process: each key and
    value costs a driver→JVM call, and every plan build asks again."""
    return _map_literal(tuple(d.items()))


@functools.cache
def _map_literal(items: tuple[tuple[str, str], ...]) -> Column:
    return F.create_map(*[F.lit(x) for kv in items for x in kv])


def normalize_primary(code: Column) -> Column:
    """Primary subtag, lowercased, 3-letter → 2-letter when known."""
    primary = F.lower(F.element_at(F.split(code, "-"), 1))
    return F.coalesce(F.element_at(_litmap(ISO639_3TO2), primary), primary)


def language_suffix_col(code: Column | str) -> Column:
    """``language_suffix`` as a Column expression: null → '';
    otherwise '_' + standardized tag, lowercase, '-'→'_'."""
    col = F.col(code) if isinstance(code, str) else code
    parts = F.split(F.lower(col), "-")
    std = F.concat(
        F.array(normalize_primary(col)), F.slice(parts, 2, 10)
    )
    return F.when(col.isNull(), F.lit("")).otherwise(
        F.concat(F.lit("_"), F.array_join(std, "_"))
    )


def language_name_col(code: Column | str) -> Column:
    """``language_name`` as a Column expression: bare code → English
    name; unmatched (incl. script/region tags) → the code itself."""
    col = F.col(code) if isinstance(code, str) else code
    bare = F.lower(col)
    two = F.coalesce(F.element_at(_litmap(ISO639_3TO2), bare), bare)
    return F.when(
        col.isNull() | col.contains("-"), col
    ).otherwise(F.coalesce(F.element_at(_litmap(ISO639_NAMES), two), col))


def lang_names_df(spark: SparkSession) -> DataFrame:
    """The same mapping as a broadcast-able dimension table (for the
    dim-join form of the facet; the reference loads vocabularies over
    HTTP and caches them, faceters.py:61 — ours is a broadcast join)."""
    rows = [(code, name) for code, name in ISO639_NAMES.items()] + [
        (c3, ISO639_NAMES[c2]) for c3, c2 in ISO639_3TO2.items()
    ]
    from solrizer_spark.session import local_df

    return local_df(spark, rows, "code string, name string")
