"""Config-driven ordered stage composition — the Spark re-expression
of the reference's indexer chain.

Reference model: ``IndexerContext.run(names)`` folds
``doc.update(indexer(ctx))`` over an ordered, per-model list of named
indexers loaded from a registry (indexers/__init__.py:82-101, registry
:47-49, per-model lists indexers.yml:1-29, late binding web.py:376-381).

Spark model: each "indexer" is a pure ``(DataFrame, conf) → DataFrame``
stage registered in :data:`STAGES`; a configured name list composes
them with ``functools.reduce``. Later stages see earlier stages'
columns (the ``doc.update`` accumulation). Catalyst fuses the whole
chain into one WholeStageCodegen pipeline — stage boundaries are
logical, not physical.

Planning cost: a stage's Columns depend only on ``conf`` and the
input schema, so each stage builds them once per process in a cached
builder keyed by exactly what it reads (``functools.cache``; the
facets stage keys by its faceter builders too) and applies them as
one ``withColumns`` per layer, a layer being the columns that read
only what came before it. A warm chain build is then a few py4j round
trips per stage instead of one per expression node. Cached Columns
name their inputs (``F.col``) and are never bound to one DataFrame.

Unknown / duplicate stage names fail fast at composition time
(reference analog: parse_indexers_param validation, web.py:254-289).
"""

from __future__ import annotations

import functools
import inspect
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from solrizer_spark.functions.datetime_fns import solr_timestamp
from solrizer_spark.functions.language import language_name_col, language_suffix_col
from solrizer_spark.operators.doc_json import doc_json_stage
from solrizer_spark.operators.extract import extract_stage

Stage = Callable[[DataFrame, dict], DataFrame]


# --------------------------------------------------------------------------
# field-chain stages (each one mirrors a reference indexer)
# --------------------------------------------------------------------------

def stage_extract(df: DataFrame, conf: dict) -> DataFrame:
    """html → extraction struct (extracted_text indexer analog,
    extracted_text.py:44-61). The only Python stage."""
    return extract_stage(
        df,
        dpi=conf.get("dpi", (400, 400)),
        include_blocks=conf.get("include_blocks", False),
    )


def stage_content_model(df: DataFrame, conf: dict) -> DataFrame:
    """Identity + model fields (content_model.py:141-179: ``id``,
    ``content_model_name__str``, ``described_by__uri``). Our content
    model is the payload route (html/plain/tagged/failed) — the analog
    of guess_model (web.py:357-362)."""
    return df.withColumns(_content_model_columns())


@functools.cache
def _content_model_columns() -> dict[str, Column]:
    return {
        "id": F.col("url"),
        "content_model_name__str": F.col("route"),
        "described_by__uri": F.col("url"),
    }


def stage_discoverability(df: DataFrame, conf: dict) -> DataFrame:
    """Boolean access flags (discoverability.py:23-30 semantics:
    membership tests + conjunction). Published ⇔ extraction produced
    text; hidden ⇔ parse failure; top-level ⇔ url path depth ≤ 2."""
    return functools.reduce(DataFrame.withColumns, _discoverability_layers(), df)


@functools.cache
def _discoverability_layers() -> tuple[dict[str, Column], ...]:
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    depth = F.size(F.split(path, "/")) - 1
    return (
        {
            "is_published": F.col("extracted_text").isNotNull(),
            "is_hidden": F.col("parse_failed"),
            "is_top_level": depth <= F.lit(2),
        },
        {
            "is_discoverable": F.col("is_top_level")
            & F.col("is_published")
            & ~F.col("is_hidden"),
        },
    )


def stage_dates(df: DataFrame, conf: dict) -> DataFrame:
    """Timestamp → Solr UTC Z-notation (dates indexer / solr_datetime,
    utils.py:4-23)."""
    return df.withColumns(_dates_columns())


@functools.cache
def _dates_columns() -> dict[str, Column]:
    return {"warc_ts__time": solr_timestamp("warc_ts")}


#: Pluggable faceter registry — the analog of the reference's
#: ``solrizer_faceters`` entry points (pyproject.toml:66-82 +
#: facets.py:38-49): each faceter is a Column builder; the facets
#: stage appends ``{name}__facet`` for every registered faceter (null
#: values are omitted from the doc, facets.py:44-47). Users extend by
#: inserting into (or replacing an entry of) this dict before building
#: the pipeline: the facets stage keys its cached Columns by the
#: builder itself, so a new entry gets its own plan.
def _ocr_faceter(df: DataFrame):
    # OCRFacet analog (faceters.py:262-282): present only when the
    # page carried tagged OCR text; null ⇒ facet omitted
    return F.when(F.col("is_tagged"), F.lit("Has OCR"))


def _domain_faceter(df: DataFrame):
    # collection-facet analog (AdminSet/ArchivalCollection,
    # faceters.py:119-154): the crawl corpus's natural grouping
    from solrizer_spark.functions.urls import registered_domain

    return registered_domain("url")


def _require(df: DataFrame, col: str, faceter: str) -> None:
    if col not in df.columns:
        raise ValueError(
            f"faceter {faceter!r} requires column {col!r} "
            f"(available: {sorted(df.columns)})"
        )


def _censorship_faceter(df: DataFrame):
    # CensorshipFacet analog (faceters.py:157-182): substring gate +
    # Yes/No marker over the description (fallback: extracted text)
    from solrizer_spark.functions.faceters import substring_test_facet

    src = "description" if "description" in df.columns else "extracted_text"
    _require(df, src, "censorship")
    return substring_test_facet(src, "Censorship Information", "CCD Action: Yes")


def _resource_type_faceter(df: DataFrame):
    # ResourceTypeFacet Poster arm (faceters.py:366): genre term up to
    # the first comma of the format value
    from solrizer_spark.functions.faceters import split_at_comma

    _require(df, "format", "resource_type")
    return split_at_comma("format")


def _publication_status_faceter(df: DataFrame):
    # PublicationStatusFacet (faceters.py:300-312)
    from solrizer_spark.functions.faceters import membership_flag_facet

    _require(df, "rdf_types", "publication_status")
    return membership_flag_facet("rdf_types", "umdaccess:Published", "Published", "Unpublished")


def _visibility_faceter(df: DataFrame):
    # VisibilityFacet (faceters.py:412-424)
    from solrizer_spark.functions.faceters import membership_flag_facet

    _require(df, "rdf_types", "visibility")
    return membership_flag_facet("rdf_types", "umdaccess:Hidden", "Hidden", "Visible")


def _rdf_type_faceter(df: DataFrame):
    # RDFTypeFacet (faceters.py:334-343): a facet whose values are a
    # PRIOR chain stage's output field (the content_model indexer's
    # curie list) — multivalued passthrough
    _require(df, "object__rdf_type__curies", "rdf_type")
    return F.col("object__rdf_type__curies")


def _rights_faceter(df: DataFrame) -> DataFrame:
    # RightsFacet / rights_statement_label (faceters.py:61-73,373-390):
    # broadcast vocab join, URI fallback — a DataFrame transform, not a
    # Column (the one faceter shape that needs a join)
    from solrizer_spark.functions.faceters import vocab_label_join

    _require(df, "rights__uri", "rights")
    return vocab_label_join(df, "rights__uri", "rights__facet")


def _admin_set_faceter(df: DataFrame, conf: dict) -> DataFrame:
    # AdminSetFacet (faceters.py:119-132): follow member_of to the
    # collection resource and facet on its title — a dim lookup, here a
    # broadcast join against the (uri, title) collections dim supplied
    # as conf['collection_titles'] (the repo-fetch becomes a dim table,
    # like the rights vocab)
    from solrizer_spark.functions.faceters import vocab_label_join

    _require(df, "member_of__uri", "admin_set")
    dim = conf.get("collection_titles")
    if not dim:
        raise ValueError("admin_set faceter requires conf['collection_titles'] "
                         "(list of (uri, title) pairs)")
    return vocab_label_join(df, "member_of__uri", "admin_set__facet", vocab=dim)


# -- label-concat faceter family (S36 remainder) -------------------------
# The reference's Contributor/Creator/Publisher/Subject/Location/
# PresentationSet/ArchivalCollection faceters all share one primitive:
# get_labels/concat_values over linked-object labels (faceters.py:
# 87-103). Its per-model ``match`` arms select WHICH property feeds the
# primitive (e.g. Creator: Item→creator, Letter→author); here the
# chain's input schema plays the model role — each faceter probes its
# source columns in the reference's match-arm order and uses the first
# present. All are row-local Column expressions (no join, no shuffle).


def _labels_of(df: DataFrame, faceter: str, *arms):
    """First matching (column, kind) arm; kind is 'labels' (linked
    objects → get_labels), 'concat' (direct values → one joined
    string), or 'values' (direct multivalued passthrough)."""
    from solrizer_spark.functions.faceters import concat_values, get_labels

    for col, kind in arms:
        if col in df.columns:
            if kind == "labels":
                return get_labels(col)
            if kind == "concat":
                return F.array(concat_values(col))
            return F.col(col)
    raise ValueError(
        f"faceter {faceter!r} requires one of "
        f"{[c for c, _ in arms]} (available: {sorted(df.columns)})"
    )


def _contributor_faceter(df: DataFrame):
    # ContributorFacet (faceters.py:185-198): Item → contributor labels
    return _labels_of(df, "contributor", ("contributor__objects", "labels"))


def _creator_faceter(df: DataFrame):
    # CreatorFacet (faceters.py:201-217): Item → creator labels,
    # Letter → author labels
    return _labels_of(
        df, "creator", ("creator__objects", "labels"), ("author__objects", "labels")
    )


def _publisher_faceter(df: DataFrame):
    # PublisherFacet (faceters.py:315-331): Item → publisher labels,
    # Poster → direct values concatenated to one string
    return _labels_of(
        df, "publisher", ("publisher__objects", "labels"), ("publisher", "concat")
    )


def _subject_faceter(df: DataFrame):
    # SubjectFacet (faceters.py:393-409): Item|Letter → subject labels,
    # Poster → direct values passthrough
    return _labels_of(
        df, "subject", ("subject__objects", "labels"), ("subject", "values")
    )


def _location_faceter(df: DataFrame):
    # LocationFacet (faceters.py:240-259): Item → location labels,
    # Letter → place labels, Poster → direct values as one string
    return _labels_of(
        df,
        "location",
        ("location__objects", "labels"),
        ("place__objects", "labels"),
        ("location", "concat"),
    )


def _presentation_set_faceter(df: DataFrame):
    # PresentationSetFacet (faceters.py:285-297): labels of the
    # presentation_set objects; objects without the property yield
    # null (the reference catches AttributeError → None → facet
    # omitted), so a missing column is null, not an error
    from solrizer_spark.functions.faceters import get_labels

    if "presentation_set__objects" not in df.columns:
        return F.lit(None).cast("array<string>")
    return get_labels("presentation_set__objects")


def _archival_collection_faceter(df: DataFrame):
    # ArchivalCollectionFacet (faceters.py:135-154): Item →
    # archival_collection labels, Letter → part_of labels, Poster →
    # the direct part_of value as a single-element list
    if "archival_collection__objects" not in df.columns and (
        "part_of__objects" not in df.columns
    ) and "part_of" in df.columns:
        return F.array(F.col("part_of").cast("string"))
    return _labels_of(
        df,
        "archival_collection",
        ("archival_collection__objects", "labels"),
        ("part_of__objects", "labels"),
    )


#: Faceters are either ``df -> Column`` (the facet value; appended as
#: ``{name}__facet``), ``df -> DataFrame`` (join-shaped faceters that
#: add their own ``{name}__facet`` column), or ``(df, conf) ->`` either
#: shape (config-driven faceters, e.g. dim tables). Select per chain
#: with ``conf['faceters']``.
#:
#: A ``df -> Column`` faceter runs once per process for each input
#: column set, and its Column is reused for every later input with
#: those columns: it must name columns (``F.col``), never bind one to
#: its ``df`` (``df["x"]``). It sees the columns the stage started with
#: (plus those of joins before it), not the other Column faceters'
#: output. Join-shaped and config-driven faceters run on every call.
FACETERS: dict[str, Callable[[DataFrame], "object"]] = {
    "language": lambda df: language_name_col("lang"),
    "ocr": _ocr_faceter,
    "domain": _domain_faceter,
    "censorship": _censorship_faceter,
    "resource_type": _resource_type_faceter,
    "publication_status": _publication_status_faceter,
    "visibility": _visibility_faceter,
    "rdf_type": _rdf_type_faceter,
    "rights": _rights_faceter,
    "admin_set": _admin_set_faceter,
    "contributor": _contributor_faceter,
    "creator": _creator_faceter,
    "publisher": _publisher_faceter,
    "subject": _subject_faceter,
    "location": _location_faceter,
    "presentation_set": _presentation_set_faceter,
    "archival_collection": _archival_collection_faceter,
}

#: faceters every default chain runs (the rest need columns the crawl
#: corpus only has when upstream stages/sources provide them)
DEFAULT_FACETERS = ["language", "ocr", "domain"]


def stage_facets(df: DataFrame, conf: dict) -> DataFrame:
    """Facet columns (facets.py:38-49 chain; LanguageFacet
    faceters.py:220-237 via language_name). Null facet values ⇒ facet
    omitted from the doc (facets.py:44-47). ``conf['faceters']``
    selects registered faceters per chain (the reference selects
    faceter classes per content model via entry points,
    pyproject.toml:66-82); unknown names fail fast."""
    names = tuple(conf.get("faceters", DEFAULT_FACETERS))
    unknown = [n for n in names if n not in FACETERS]
    if unknown:
        raise ValueError(f"unknown faceter(s): {unknown}; available: {sorted(FACETERS)}")
    key = (names, tuple(FACETERS[n] for n in names), frozenset(df.columns))
    if key not in _FACET_STEPS:
        _FACET_STEPS[key] = _facet_steps(df, conf, names)
    for step in _FACET_STEPS[key]:
        df = df.withColumns(step) if isinstance(step, dict) else _apply_faceter(df, step, conf)
    return df


#: (faceter names, their FACETERS entries, input columns) → the facets
#: stage's steps, built by the first call with that key. A failed build
#: raises and stores nothing.
_FACET_STEPS: dict[tuple, tuple] = {}


def _takes_conf(builder) -> bool:
    return len(inspect.signature(builder).parameters) >= 2


def _apply_faceter(df: DataFrame, name: str, conf: dict) -> DataFrame:
    builder = FACETERS[name]
    res = builder(df, conf) if _takes_conf(builder) else builder(df)
    return res if isinstance(res, DataFrame) else df.withColumn(f"{name}__facet", res)


def _facet_steps(df: DataFrame, conf: dict, names: tuple[str, ...]) -> tuple:
    """The facets stage as steps: a dict of Columns (one
    ``withColumns``), or the name of a faceter that runs on every call
    (a join, or one that reads conf)."""
    steps: list = []
    cols: dict[str, Column] = {}
    for name in names:
        builder = FACETERS[name]
        res = None if _takes_conf(builder) else builder(df)
        if isinstance(res, Column):
            cols[f"{name}__facet"] = res
            continue
        if cols:
            steps.append(cols)
            df = df.withColumns(cols)
            cols = {}
        steps.append(name)
        df = _apply_faceter(df, name, conf)
    cols["lang_suffix"] = language_suffix_col("lang")
    steps.append(cols)
    return tuple(steps)


#: default aggregate-field settings — the indexer-settings.yml analog
#: (indexer-settings.yml:7-26): each output field lists jq programs
#: (the subset in plans/jq_fields.py: ``.foo``/``.foo?``, ``.foo[]?``,
#: and recursive-descent ``..|objects|.foo``) whose non-null results
#: are concatenated in order.
DEFAULT_AGGREGATE_FIELDS: dict[str, list[str]] = {
    "agg_text": [".title?", ".extracted_text", "..|objects|.page__text__txt"],
    "agg_identifier": [".id", ".described_by__uri?"],
}


def stage_aggregate_fields(df: DataFrame, conf: dict) -> DataFrame:
    """Omnibus multivalued fields (aggregate_fields.py:22-44 +
    indexer-settings.yml:7-26). The reference compiles jq programs and
    extends each field with their non-null results; here the programs
    expand at PLAN time over the static schema (plans/jq_fields.py:
    recursive descent into child docs included) and ``array_compact``
    is the non-null filter (aggregate_fields.py:42). Configure via
    ``conf['aggregate_fields']``. Column names carry an ``agg_``
    prefix (the input table owns ``text``); doc JSON keys drop it.
    Every field reads the stage's input row, not the other fields."""
    settings = conf.get("aggregate_fields", DEFAULT_AGGREGATE_FIELDS)
    frozen = tuple((field, tuple(paths)) for field, paths in settings.items())
    return df.withColumns(_aggregate_columns(frozen, df.schema))


@functools.cache
def _aggregate_columns(
    settings: tuple[tuple[str, tuple[str, ...]], ...], schema: T.StructType
) -> dict[str, Column]:
    from solrizer_spark.plans.jq_fields import compile_path

    out = {}
    for out_field, paths in settings:
        pieces = [c for p in paths if (c := compile_path(schema, p)) is not None]
        if not pieces:
            out[out_field] = F.array().cast("array<string>")
        else:
            out[out_field] = F.array_compact(
                pieces[0] if len(pieces) == 1 else F.concat(*pieces)
            )
    return out


def stage_doc(df: DataFrame, conf: dict) -> DataFrame:
    """Canonical sorted-key JSON doc (web.py:405)."""
    return doc_json_stage(df, conf)


def stage_child_docs(df: DataFrame, conf: dict) -> DataFrame:
    """Nested child documents (content_model.py:324-336 /
    indexers/root.py: embedded resources become ``list[dict]`` values
    with the parent's id as ``_root_``): each kept DOM block becomes a
    ``page`` child doc struct. Requires the detail extraction mode
    (``conf['include_blocks']=True``) — blocks are dropped in the fast
    path."""
    if "blocks" not in df.columns:
        raise ValueError(
            "child_docs requires the detail extraction mode: set "
            "conf={'include_blocks': True} so the blocks column exists"
        )
    return df.withColumns(_child_docs_columns())


@functools.cache
def _child_docs_columns() -> dict[str, Column]:
    kept = F.filter(F.col("blocks"), lambda b: b["kept"])
    child = F.transform(
        kept,
        # two-param lambda: (element, 0-based position in the kept
        # sequence) — position, not block_index, numbers the label,
        # matching PageSequence.labels' enumerate(pages, 1)
        lambda b, i: F.struct(
            F.concat(F.col("url"), F.lit("#block-"), b["block_index"].cast("string")).alias("id"),
            F.col("url").alias("_root_"),
            b["block_index"].alias("page_index__int"),
            # label fallback (page_sequence.py:67-71): DOM blocks carry
            # no title, so every child doc takes the positional
            # placeholder (the title-present arm of the coalesce is
            # exercised by operators.page_labels over titled pages)
            F.concat(F.lit("[Page "), (i + 1).cast("string"), F.lit("]")).alias("page__label__txt"),
            b["text"].alias("page__text__txt"),
            b["tag_path"].alias("page__tag_path__str"),
        ),
    )
    return {"pages": child}


def stage_iiif_links(df: DataFrame, conf: dict) -> DataFrame:
    """IIIF manifest + per-page thumbnail links (iiif_links_fields,
    iiif_links.py:46-68): manifest id from the resource path, manifest
    and thumbnail URIs by URITemplate ``{+id}`` expansion, thumbnail
    ids by the best-image preference cascade over each page's files
    with the ``static:unavailable`` fallback (iiif_links.py:134-149).

    Config: ``iiif_identifier_prefix``, ``iiif_manifests_url_pattern``,
    ``iiif_thumbnail_url_pattern`` (the reference's three required
    keys), plus ``iiif_page_files_field`` naming the files array inside
    each ``pages`` element (our block child docs carry no files — every
    page then falls back to ``static:unavailable``)."""
    layers = _iiif_layers(
        conf.get("iiif_identifier_prefix", "fcrepo:"),
        conf.get("iiif_manifests_url_pattern", "https://iiif.example.edu/manifests/{+id}"),
        conf.get("iiif_thumbnail_url_pattern", "https://iiif.example.edu/thumbnails/{+id}"),
        conf.get("iiif_page_files_field", "page__has_file"),
        df.schema["pages"].dataType if "pages" in df.columns else None,
    )
    return functools.reduce(DataFrame.withColumns, layers, df)


@functools.cache
def _iiif_layers(
    prefix: str, man_tpl: str, thumb_tpl: str, files_field: str, page_type: T.DataType | None
) -> tuple[dict[str, Column], ...]:
    from solrizer_spark.functions.uris import (
        expand_uri_template,
        iiif_identifier,
        thumbnail_identifier,
    )

    ident = {
        "iiif_manifest__id": iiif_identifier(F.parse_url(F.col("url"), F.lit("PATH")), prefix)
    }
    second = {"iiif_manifest__uri": expand_uri_template(man_tpl, F.col("iiif_manifest__id"))}
    if page_type is None:
        return ident, second
    is_struct_array = isinstance(page_type, T.ArrayType) and isinstance(
        page_type.elementType, T.StructType
    )
    if not is_struct_array:
        raise ValueError(
            "iiif_links requires 'pages' to be an array of structs "
            f"(got {page_type.simpleString()})"
        )
    has_files = any(f.name == files_field for f in page_type.elementType.fields)
    if has_files:
        thumb_ids = F.transform(
            F.col("pages"), lambda p: thumbnail_identifier(p[files_field], prefix)
        )
    else:
        thumb_ids = F.transform(F.col("pages"), lambda p: F.lit("static:unavailable"))
    second["iiif_thumbnail_sequence__ids"] = thumb_ids
    uris = F.transform(
        F.col("iiif_thumbnail_sequence__ids"), lambda i: expand_uri_template(thumb_tpl, i)
    )
    return ident, second, {"iiif_thumbnail_sequence__uris": uris}


STAGES: dict[str, Stage] = {
    "extract": stage_extract,
    "content_model": stage_content_model,
    "discoverability": stage_discoverability,
    "dates": stage_dates,
    "facets": stage_facets,
    "aggregate_fields": stage_aggregate_fields,
    "child_docs": stage_child_docs,
    "iiif_links": stage_iiif_links,
    "doc": stage_doc,
}

#: Default chain — same shape as the reference's Item list
#: (indexers.yml:1-10), with extraction first because downstream
#: stages read its columns.
DEFAULT_CHAIN = [
    "extract",
    "content_model",
    "discoverability",
    "dates",
    "facets",
    "aggregate_fields",
    "doc",
]


def build_pipeline(names: list[str] | None = None, conf: dict | None = None) -> Callable[[DataFrame], DataFrame]:
    """Compose named stages into one DataFrame transform. Validates
    names up front (unknown / duplicate → ValueError, the
    parse_indexers_param analog)."""
    names = list(names or DEFAULT_CHAIN)
    conf = conf or {}
    unknown = [n for n in names if n not in STAGES]
    if unknown:
        raise ValueError(f"unknown stage(s): {unknown}; available: {sorted(STAGES)}")
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise ValueError(f"duplicate stage(s): {sorted(dupes)}")

    def pipeline(df: DataFrame) -> DataFrame:
        return functools.reduce(lambda acc, name: STAGES[name](acc, conf), names, df)

    return pipeline


def run_chain(df: DataFrame, names: list[str] | None = None, conf: dict | None = None) -> DataFrame:
    return build_pipeline(names, conf)(df)


#: Per-content-model stage lists — the analog of the reference's
#: per-model indexer configuration (indexers.yml:1-29) with the
#: ``__default__`` fallback (web.py:298-300,376-381). The extract
#: stage doubles as the model guesser (route column ≈ guess_model).
DEFAULT_MODEL_CHAINS: dict[str, list[str]] = {
    "html": ["content_model", "discoverability", "dates", "facets", "aggregate_fields", "doc"],
    "tagged": ["content_model", "discoverability", "dates", "facets", "aggregate_fields", "doc"],
    "plain": ["content_model", "discoverability", "dates", "facets", "aggregate_fields", "doc"],
    "__default__": ["content_model", "dates", "doc"],
}


def run_model_chains(
    df: DataFrame,
    chains: dict[str, list[str]] | None = None,
    conf: dict | None = None,
    route_col: str = "route",
) -> DataFrame:
    """Per-model dispatch: extraction classifies each row into a
    content model (route), each model runs its own configured stage
    list, and the per-model outputs are merged with
    ``unionByName(allowMissingColumns=True)`` — so a model whose chain
    skips a stage simply has nulls for that stage's columns.

    Catalyst sees N filtered branches over one cached scan; each
    branch is its own WholeStageCodegen pipeline. Models not named in
    ``chains`` take the ``__default__`` chain.

    ``conf['per_model']`` holds per-model stage-config overrides
    (merged over the shared conf for that model's branch) — the
    analog of the reference's per-model faceter/indexer selection
    (indexers.yml + the per-model faceter ``match`` arms): e.g.
    ``{"per_model": {"html": {"faceters": ["language", "creator"]}}}``
    runs the creator faceter only on html-routed rows.
    """
    chains = chains or DEFAULT_MODEL_CHAINS
    conf = conf or {}
    per_model: dict = conf.get("per_model", {})
    # fail fast on a typo'd model name: a silently ignored override
    # would run the wrong faceters (same convention as unknown stages)
    valid = set(chains) | {"__default__", "__extract__"}
    unknown = [m for m in per_model if m not in valid]
    if unknown:
        raise ValueError(
            f"per_model override(s) for unknown model(s) {unknown}; "
            f"chains define {sorted(valid)}"
        )

    def conf_for(model: str) -> dict:
        override = per_model.get(model)
        base = {k: v for k, v in conf.items() if k != "per_model"}
        if override:
            base.update(override)
        return base

    extracted = STAGES["extract"](df, conf_for("__extract__"))
    named = {k: v for k, v in chains.items() if k != "__default__"}
    default_chain = chains.get("__default__")
    branches = []
    for model, names in named.items():
        branch = extracted.where(F.col(route_col) == model)
        branches.append(build_pipeline(names, conf_for(model))(branch))
    if default_chain is not None:
        rest = extracted.where(~F.col(route_col).isin(*named.keys()))
        branches.append(build_pipeline(default_chain, conf_for("__default__"))(rest))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b, allowMissingColumns=True)
    return out
