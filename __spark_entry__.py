"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the full extraction field-chain over a
deterministic HTML wrap of the sf0.001 ``documents`` table.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
(SURVEY.md §2), each with an exact DuckDB oracle. The pages input for
extraction queries is constructed *inside Spark* from the shared
``documents`` parquet with deterministic JVM-side expressions, so the
DuckDB oracle can state the expected extraction output independently.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"

_STOPWORDS = ("the", "a")


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _esc(col: Column) -> Column:
    """Minimal HTML escaping (mirrors what any writer of the corpus
    would do); the extractor decodes these entities back."""
    out = F.regexp_replace(col, "&", "&amp;")
    out = F.regexp_replace(out, "<", "&lt;")
    return F.regexp_replace(out, ">", "&gt;")


def _wrap_pages(
    spark: SparkSession, sf_dir: str, boilerplate: bool, headings: bool = False
) -> DataFrame:
    """documents → pages(url, warc_ts, html, text, lang) (+doc_id).

    ``boilerplate=False``: clean page → raw markup-strip route; the
    expected extracted text is ``'Doc {id}' + text`` (title text node
    + paragraph text node, adjacent tags contribute no whitespace).

    ``boilerplate=True``: nav + link farm + footer around the same
    paragraph → main-content route; expected text is exactly ``text``
    (1 block kept, nav/farm/footer dropped).

    ``headings=True`` adds an ``<h1>Doc {id}</h1>`` before the
    article and an ``<h2>Section {id%7}</h2>`` inside it. Heading
    blocks carry zero link chars and sit in no boilerplate container,
    so classify_blocks KEEPS them unconditionally (rule 4) — the
    expected text/keep counts stay analytic: extracted text becomes
    ``'Doc {id}\\nSection {id%7}\\n' + text`` with 3 kept blocks, and
    the expected outline is exactly those two headings in order.
    """
    docs = _table(spark, sf_dir, "documents")
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    body_core = F.concat(F.lit("<article><p>"), _esc(F.col("text")), F.lit("</p></article>"))
    if headings:
        body_core = F.concat(
            F.lit("<h1>"), title, F.lit("</h1><article><h2>Section "),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("</h2><p>"), _esc(F.col("text")), F.lit("</p></article>"),
        )
    if boilerplate:
        body = F.concat(
            F.lit(
                '<nav><a href="/">Home</a> <a href="/a">About</a></nav>'
                '<div><a href="/1">one</a> <a href="/2">two</a> <a href="/3">three</a></div>'
            ),
            body_core,
            F.lit("<footer>Copyright 2026 corpus.example.org</footer>"),
        )
    else:
        body = body_core
    html = F.concat(
        F.lit("<html><head><title>"), title, F.lit("</title></head><body>"),
        body, F.lit("</body></html>"),
    )
    return docs.select(
        F.col("doc_id"),
        F.concat(F.lit("https://corpus.example.org/doc/"), F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_add("SECOND", F.col("doc_id").cast("int"), F.lit("2024-01-01 00:00:00").cast("timestamp")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_extract_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup-strip route (extracted_text.py:105-107 semantics)."""
    from solrizer_spark.operators.extract import extract_stage

    pages = _wrap_pages(spark, sf_dir, boilerplate=False)
    return extract_stage(pages).select("doc_id", "extracted_text")


def q_extract_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate classification route (SURVEY.md §2.12): keep/drop
    counts and final bytes pinned, plus the heading OUTLINE derived
    from the scored block array (``page_outline``) — scalarized as
    ``level:text`` joined with ``|`` so the driver canonicalizer can
    sort/hash it. The synthesized pages carry an ``<h1>`` + ``<h2>``
    whose text is analytic in (doc_id), so the oracle re-derives the
    outline exactly; a regexp over raw HTML would also match the
    link-farm markup, so only a parser-grounded outline hashes clean.
    """
    from solrizer_spark.operators.extract import extract_stage, page_outline

    pages = _wrap_pages(spark, sf_dir, boilerplate=True, headings=True)
    outline = page_outline(F.col("blocks"))
    return extract_stage(pages, include_blocks=True).select(
        "doc_id",
        "extracted_text",
        "blocks_kept",
        "blocks_dropped",
        F.array_join(
            F.transform(
                outline,
                lambda b: F.concat(
                    b["level"].cast("string"), F.lit(":"), b["text"]
                ),
            ),
            "|",
        ).alias("outline_str"),
        F.size(outline).alias("n_headings"),
    )


def q_doc_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full field chain: content model, discoverability flags, solr
    timestamp, language facet (indexers.yml chain analog)."""
    from solrizer_spark.plans.pipeline import run_chain

    pages = _wrap_pages(spark, sf_dir, boilerplate=False)
    out = run_chain(pages)
    return out.select(
        "doc_id",
        F.col("content_model_name__str").alias("content_model"),
        F.col("language__facet").alias("language_facet"),
        "warc_ts__time",
        "is_published",
        "is_hidden",
        "is_top_level",
        "is_discoverable",
    )


def q_aggregate_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jq-style aggregate fields (aggregate_fields.py:22-44 +
    indexer-settings.yml:7-26): omnibus text and identifier lists,
    including a recursive-descent program (``..|objects|.x``) that
    reaches into the ``pages`` child docs. Exercises all three jq
    shapes the reference settings use: plain/optional field, optional
    missing field, and recursive descent."""
    from solrizer_spark.plans.pipeline import run_chain

    pages = _wrap_pages(spark, sf_dir, boilerplate=True)
    chain = [
        "extract", "content_model", "discoverability", "dates", "facets",
        "child_docs", "aggregate_fields", "doc",
    ]
    conf = {
        "include_blocks": True,
        "aggregate_fields": {
            "agg_text": [".title?", ".extracted_text", "..|objects|.page__text__txt"],
            "agg_identifier": [".id", ".described_by__uri?", "..|objects|.id", ".missing_col?"],
        },
    }
    out = run_chain(pages, chain, conf)
    return out.select(
        "doc_id",
        F.array_join(F.col("agg_text"), "|").alias("text_joined"),
        F.array_join(F.col("agg_identifier"), "|").alias("ident_joined"),
    )


def q_lang_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet aggregation (LanguageFacet, faceters.py:220-237 +
    language_name :76-84): facet value distribution."""
    from solrizer_spark.functions.language import language_name_col

    docs = _table(spark, sf_dir, "documents")
    return (
        docs.select(language_name_col("lang").alias("language_facet"))
        .groupBy("language_facet")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_facet_primitives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S36 faceter primitives through a configured facets chain:
    substring-test (CensorshipFacet, faceters.py:157-182),
    split-at-first-comma (ResourceTypeFacet, faceters.py:366), and the
    two membership-flag facets (PublicationStatus/Visibility,
    faceters.py:300-312,412-424) over deterministically synthesized
    source columns."""
    from solrizer_spark.plans.pipeline import run_chain

    docs = _table(spark, sf_dir, "documents").select("doc_id", "lang")
    m4 = F.col("doc_id") % 4
    description = (
        F.when(m4 == 0, F.lit("Notes. Censorship Information. CCD Action: Yes. End"))
        .when(m4 == 1, F.lit("Notes. Censorship Information. CCD Action: No. End"))
        .when(m4 == 2, F.lit("A plain description with no markers"))
        .otherwise(F.lit(None).cast("string"))
    )
    fmt = F.when(
        F.col("doc_id") % 7 == 0, F.lit("Photograph")
    ).otherwise(
        F.concat(F.lit("Genre "), (F.col("doc_id") % 5).cast("string"), F.lit(", 3 pages, color"))
    )
    rdf = F.array(F.lit("pcdm:Object"))
    rdf = F.when(F.col("doc_id") % 2 == 0, F.array_append(rdf, F.lit("umdaccess:Published"))).otherwise(rdf)
    rdf = F.when(F.col("doc_id") % 3 == 0, F.array_append(rdf, F.lit("umdaccess:Hidden"))).otherwise(rdf)
    base = (
        docs.withColumn("description", description)
        .withColumn("format", fmt)
        .withColumn("rdf_types", rdf)
        .withColumn("object__rdf_type__curies", rdf)  # prior-stage field
    )
    out = run_chain(
        base,
        ["facets"],
        conf={"faceters": ["language", "censorship", "resource_type",
                           "publication_status", "visibility", "rdf_type"]},
    )
    return out.select(
        "doc_id",
        F.col("censorship__facet").alias("censorship"),
        F.col("resource_type__facet").alias("resource_type"),
        F.col("publication_status__facet").alias("publication_status"),
        F.col("visibility__facet").alias("visibility"),
        F.array_join(F.col("rdf_type__facet"), "|").alias("rdf_type"),
    )


def q_facet_vocab_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S33 rights faceter: broadcast vocab-dim join with URI fallback
    (rights_statement_label, faceters.py:61-73), then the facet-count
    aggregation form."""
    from solrizer_spark.functions.faceters import RIGHTS_VOCAB
    from solrizer_spark.plans.pipeline import run_chain

    docs = _table(spark, sf_dir, "documents").select("doc_id", "lang")
    m = F.col("doc_id") % 7
    uri = F.lit(f"http://example.org/unknown-rights/")
    expr = F.concat(uri, (F.col("doc_id") % 3).cast("string"))
    for i, (vocab_uri, _) in enumerate(RIGHTS_VOCAB):
        expr = F.when(m == i, F.lit(vocab_uri)).otherwise(expr)
    base = docs.withColumn("rights__uri", expr)
    out = run_chain(base, ["facets"], conf={"faceters": ["rights"]})
    return out.groupBy(F.col("rights__facet").alias("rights_facet")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def q_facet_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S36 label-concat faceter family (get_labels/concat_values,
    faceters.py:87-103) as named registry faceters, covering every
    primitive arm: linked-object labels with sorted ' / ' concat
    (contributor — two objects; creator — Letter author arm; subject;
    location — Letter place arm), direct-value concat (publisher —
    Poster arm), the missing-property null (presentation_set,
    faceters.py:294-297), and ArchivalCollection's Poster direct
    part_of value (faceters.py:145-152). Linked objects are
    synthesized deterministically from the documents text tokens."""
    from solrizer_spark.plans.pipeline import run_chain

    docs = _table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")

    def tk(k: int) -> Column:
        return F.coalesce(F.try_element_at(toks, F.lit(k)), F.lit(f"tok{k}"))

    def obj(*labels: Column) -> Column:
        return F.struct(F.array(*labels).alias("label"))

    base = docs.select(
        "doc_id",
        "lang",
        F.array(obj(tk(2), tk(1)), obj(tk(3))).alias("contributor__objects"),
        F.array(obj(tk(7), tk(3))).alias("author__objects"),
        F.array(tk(4), tk(1)).alias("publisher"),
        F.array(obj(tk(5), tk(2))).alias("subject__objects"),
        F.array(obj(tk(1), tk(6))).alias("place__objects"),
        F.concat(F.lit("archive-"), (F.col("doc_id") % 5).cast("string")).alias("part_of"),
    )
    out = run_chain(
        base,
        ["facets"],
        conf={
            "faceters": [
                "contributor", "creator", "publisher", "subject",
                "location", "presentation_set", "archival_collection",
            ]
        },
    )
    j = lambda c: F.array_join(F.col(c), "|")  # noqa: E731
    return out.select(
        "doc_id",
        j("contributor__facet").alias("contributor"),
        j("creator__facet").alias("creator"),
        j("publisher__facet").alias("publisher"),
        j("subject__facet").alias("subject"),
        j("location__facet").alias("location"),
        j("presentation_set__facet").alias("presentation_set"),
        j("archival_collection__facet").alias("archival_collection"),
    )


def q_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: overlapping fixed-size token chunks
    per document (map-side transform+posexplode, no shuffle) — the
    pretokenization fan-out of a training pipeline."""
    from solrizer_spark.operators.sampling import chunk_text

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    out = chunk_text(docs, "text", chunk_tokens=32, overlap=8)
    return out.select(
        "doc_id",
        F.col("chunk_index").cast("long").alias("chunk_index"),
        "chunk",
        F.col("chunk_n_tokens").cast("long").alias("chunk_n_tokens"),
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide repeated-line removal: every doc gets two
    corpus-constant boilerplate lines and a footer shared by ~1/7 of
    docs; lines occurring ≥3 times are dropped (no copies kept), doc
    order preserved."""
    from solrizer_spark.operators.dedup import remove_repeated_lines

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    multi = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("SHARED COOKIE BANNER"),
            F.col("text"),
            F.concat(F.lit("footer-"), (F.col("doc_id") % 7).cast("string")),
            F.lit("ALL RIGHTS RESERVED"),
        ).alias("page_text"),
    )
    return remove_repeated_lines(multi, "doc_id", "page_text", min_count=3)


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup at a fixed window size (the Spark-first
    form of Lee et al. 2022's suffix-array ExactSubstr): ~1/7 of docs
    get one shared 12-token preamble, so every 8-token window inside
    it is corpus-duplicated. One relation carries the per-doc
    detection counts (dup-span occurrences, keeper spans) and the
    keep-first removal output (cleaned text + token counters), so the
    oracle value-checks both stages end to end."""
    from solrizer_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    pre = (
        "juliet kilo lima mike november oscar papa quebec romeo sierra "
        "tango uniform"
    )
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.lit(pre + " "), F.col("text"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # detection feeds BOTH the per-doc stats and removal: persist so
    # the span hashing + count shuffle runs once (remove_duplicate_
    # spans would otherwise rebuild the identical uncached subplan)
    spans = duplicate_spans(seeded, span_tokens=8).persist()
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("is_keeper").cast("long")).alias("n_keeper_spans"),
    )
    removed = remove_duplicate_spans(seeded, span_tokens=8, spans=spans)
    return removed.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_dup_spans"), F.lit(0).cast("long")).alias(
            "n_dup_spans"
        ),
        F.coalesce(F.col("n_keeper_spans"), F.lit(0).cast("long")).alias(
            "n_keeper_spans"
        ),
        "cleaned_text",
        "n_tokens_kept",
        "n_tokens_dropped",
    )


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing at T=0.5: languages are the
    sources; sampled proportions ∝ count^0.5, smallest language kept
    whole, deterministic via key-hash thresholds."""
    from solrizer_spark.operators.sampling import temperature_mix

    docs = _table(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_mix(docs, "lang", "doc_id", temperature=0.5, salt="mix")


def q_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side outlink extraction + host-graph edge derivation:
    quoted hrefs via regexp_extract_all (double- then single-quoted),
    absolute links reduced to distinct registered domains (PSL
    3-label case included via .co.uk)."""
    from solrizer_spark.functions.urls import extract_outlinks, outlink_domains

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    m = (F.col("doc_id") % 9).cast("string")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body><nav><a href="/">Home</a> <a href=\'/about\'>A</a></nav>'),
        F.lit('<p><a class="x" href="https://ex'), m, F.lit(".co.uk/p?id="), did,
        F.lit('">link</a></p><a href="https://site'), m,
        F.lit('.com/q">2</a></body></html>'),
    )
    links = extract_outlinks(html)
    return docs.select(
        "doc_id",
        F.array_join(links, "|").alias("links"),
        F.size(links).cast("long").alias("n_links"),
        F.array_join(outlink_domains(html), "|").alias("domains"),
    )


def q_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear model scoring at scan time: the
    oracle re-derives each bucket's weight arithmetically (weights[i]
    = ((i*37)%101 − 50)/100) instead of replaying the array lookup, so
    the two computations are independent. All weights are exact
    hundredths ⇒ round(·,6) is insensitive to FP summation order."""
    from solrizer_spark.functions.text_stats import hashed_linear_score
    from solrizer_spark.operators.repartition import ensure_min_parallelism

    weights = [((i * 37) % 101 - 50) / 100.0 for i in range(256)]
    # per-word hash + weight lookup is the CPU-heavy map side —
    # parallelize small single-split scans (no-op at scale)
    docs = ensure_min_parallelism(
        _table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return docs.select(
        "doc_id", hashed_linear_score("text", weights, bias=0.25).alias("score")
    )


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus rollup (the crawl-curation dashboard shape):
    group by eTLD+1 — including multi-label suffixes via the PSL
    snapshot — with doc counts, token sums, and mean doc length; one
    map-side-combinable aggregate."""
    from solrizer_spark.functions.text_stats import token_count
    from solrizer_spark.functions.urls import registered_domain

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    m = (F.col("doc_id") % 6).cast("string")
    url = (
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("https://sub.site"), m, F.lit(".co.uk/p/"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.lit("https://www.example"), m, F.lit(".com/q")))
        .otherwise(F.concat(F.lit("https://cdn.assets"), m, F.lit(".org/r")))
    )
    return (
        docs.select(registered_domain(url).alias("domain"),
                    token_count("text").alias("_toks"),
                    F.length("text").alias("_chars"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_toks").alias("total_tokens"),
            F.round(F.avg("_chars"), 4).alias("mean_chars"),
        )
    )


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt disallow filtering: per-domain rules broadcast
    against the corpus; domains without a robots row pass through
    whole. host3's rules exercise the RFC 9309 wildcard path ('*'
    any-sequence + trailing-'$' end anchor); host1 exercises §2.2.2
    Allow longest-match precedence (a longer Allow re-opens part of a
    Disallowed prefix); host0 stays on the literal-prefix fast path."""
    from solrizer_spark.functions.urls import filter_robots_disallowed

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    m = (F.col("doc_id") % 4).cast("string")
    sect = F.when(F.col("doc_id") % 5 == 0, F.lit("/private/"))\
        .when(F.col("doc_id") % 5 == 1, F.lit("/tmp/"))\
        .otherwise(F.lit("/articles/"))
    base = docs.withColumn(
        "url",
        F.concat(F.lit("https://host"), m, F.lit(".example.com"), sect,
                 F.col("doc_id").cast("string")),
    )
    from solrizer_spark.session import local_df, write_local_parquet

    robots = local_df(
        spark,
        [("host0.example.com", ["/private/", "/tmp/"], []),
         ("host1.example.com", ["/private/"], ["/private/1*"]),
         ("host2.example.com", [], []),
         ("host3.example.com", ["/art*les/", "/tmp/*3$"], [])],
        "domain string, disallow array<string>, allow array<string>",
    )
    return filter_robots_disallowed(base, robots).select("doc_id", "url")


def q_solr_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp → UTC Z-notation (solr_datetime, utils.py:4-23),
    including sub-second passthrough: a deterministic microsecond
    offset is added per event (zero for event_id%1500==0, so both the
    fractional and whole-second render paths are pinned)."""
    from solrizer_spark.functions.datetime_fns import solr_timestamp

    ev = _table(spark, sf_dir, "events")
    with_micro = F.timestamp_add(
        "MICROSECOND", (F.col("event_id") % 1500 * 667).cast("long"), F.col("ts")
    )
    return ev.select(
        "event_id",
        solr_timestamp("ts").alias("ts_solr"),
        solr_timestamp(with_micro).alias("ts_solr_micro"),
    )


def q_page_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered page sequence → positional concat + labels
    (page_sequence.py:28-71 + ' '.join, extracted_text.py:58):
    lineitem lines as 'pages' of an order, ordered by line number.
    Odd-positioned pages carry a title (the comment); even ones fall
    back to the ``[Page N]`` placeholder (PageSequence.labels)."""
    from solrizer_spark.operators.extract import page_labels

    li = _table(spark, sf_dir, "lineitem").withColumn(
        "title",
        F.when(
            F.col("l_linenumber") % 2 == 1,
            F.concat(F.lit("T-"), F.col("l_returnflag"), F.col("l_linestatus")),
        ),
    )
    pages = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("l_linenumber"),
                F.col("l_quantity").cast("int").alias("qty"),
                F.col("title"),
            )
        )
    )
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("page_count"),
            F.array_join(
                F.transform(pages, lambda p: p["qty"].cast("string")), " "
            ).alias("page_text"),
            F.array_join(page_labels(pages), "|").alias("page_labels"),
        )
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy (training-data op): a
    deterministic 10% duplicate injection, then hash-group counts."""
    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.where(F.col("doc_id") % 10 == 0)
    union = docs.unionByName(dup)
    return (
        union.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"))
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring (training-data op): token count, mean
    token length, stopword ratio — all JVM-side array expressions."""
    docs = _table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.round(
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double") / n, 4
        ).alias("avg_token_len"),
        F.round(stop.cast("double") / n, 4).alias("stopword_ratio"),
    )


# --------------------------------------------------------------------------
# training-data operators: dedup / similarity / text analysis / multimodal
# --------------------------------------------------------------------------

def _with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-duplicate copies: every doc_id%5==0 doc gets a
    copy (id+100000) with its LAST token dropped — shingle Jaccard
    ≈ (k−1)/k ≈ 0.95+, so banded LSH recall at threshold 0.8 is
    effectively total (P[miss] ≈ 2e-8 per pair)."""
    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    dup = (
        docs.where(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ").alias("text"),
        )
    )
    return docs.unionByName(dup)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-Jaccard verified."""
    from solrizer_spark.operators.dedup import minhash_lsh_pairs

    union = _with_near_dups(spark, sf_dir)
    return minhash_lsh_pairs(
        union, shingle_n=3, num_hashes=64, bands=16, threshold=0.8
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard between each doc and its near-dup copy."""
    from solrizer_spark.operators.dedup import ngram_jaccard

    union = _with_near_dups(spark, sf_dir)
    orig = union.where(F.col("doc_id") < 100000).alias("o")
    copy = union.where(F.col("doc_id") >= 100000).alias("c")
    joined = orig.join(copy, F.col("o.doc_id") + 100000 == F.col("c.doc_id"))
    return joined.select(
        F.col("o.doc_id").alias("doc_id"),
        F.round(ngram_jaccard(F.col("o.text"), F.col("c.text"), 3), 6).alias("jaccard_sim"),
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (md5-derived, SQL-reproducible)."""
    from solrizer_spark.operators.dedup import simhash

    docs = _table(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash("text", bits=32).alias("simhash32"))


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 via the pigeonhole band
    trick). The chunking guarantees total recall at the threshold, so
    the exact cross-join oracle matches bit-for-bit."""
    from solrizer_spark.operators.dedup import simhash_near_dup_pairs

    union = _with_near_dups(spark, sf_dir)
    # max_bucket raised above the corpus size: the oracle is the exact
    # cross join, so the (production-default) bucket cap must not
    # truncate here
    return simhash_near_dup_pairs(
        union, bits=32, max_hamming=3, chunks=4, max_bucket=1_000_000
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any verbatim 8-gram with
    a (broadcast) benchmark set are flagged. The benchmark is a
    deterministic excerpt (tokens 3-14) of every 50th doc, so those
    docs must flag as contaminated and carry ≥1 matched gram."""
    from solrizer_spark.operators.decontam import flag_contaminated

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    benchmark = docs.where(F.col("doc_id") % 50 == 0).select(
        F.array_join(F.slice(toks, 3, 12), " ").alias("text")
    )
    out = flag_contaminated(docs, benchmark, n=8)
    return out.select("doc_id", "n_matched", "contaminated")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: emails/IPv4/phone numbers injected
    deterministically into 3 of every 4 docs are counted and redacted;
    the 4th stays clean (counts 0, text unchanged)."""
    from solrizer_spark.functions.scrub import pii_counts, scrub_pii

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" Contact user"), k.cast("string"),
        F.lit("@ex"), (k % 9).cast("string"), F.lit(".com at 10.0."),
        (k % 256).cast("string"), F.lit("."), (k % 100).cast("string"),
        F.lit(" or 555-"), F.lpad((k % 1000).cast("string"), 3, "0"),
        F.lit("-"), F.lpad((k * 7 % 10000).cast("string"), 4, "0"), F.lit(" now"),
    )
    base = docs.withColumn(
        "text", F.when(k % 4 == 3, F.col("text")).otherwise(injected)
    )
    c = pii_counts("text")
    return base.select(
        "doc_id",
        scrub_pii("text").alias("scrubbed"),
        c["n_emails"].alias("n_emails"),
        c["n_ips"].alias("n_ips"),
        c["n_phones"].alias("n_phones"),
    )


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace/control-char normalization over deterministically
    mangled text (tabs, doubled spaces, control chars, padding)."""
    from solrizer_spark.functions.scrub import normalize_text

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    mangled = F.concat(
        F.lit("  \t"),
        F.replace(
            F.col("text"), F.lit(" "),
            F.when(F.col("doc_id") % 2 == 0, F.lit("  ")).otherwise(F.lit("\t")),
        ),
        F.lit(" trailing   "),
    )
    return docs.select("doc_id", normalize_text(mangled).alias("normalized"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a near-dup pair list (transitive
    closure → one cluster id per doc; min-label propagation). The
    synthesized edge set includes 5-node CHAINS (diameter 4), so the
    result is only right if labels propagate multiple rounds — plus
    disjoint 2-node components."""
    from solrizer_spark.operators.dedup import connected_components

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    chain = docs.where(F.col("doc_id") % 16 < 4).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    pair2 = docs.where((F.col("doc_id") % 16).isin(8, 9)).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 2).alias("id_b")
    )
    pairs = chain.unionByName(pair2)
    return connected_components(pairs)


_QUERY_VEC = [((d % 7) - 3) / 3.0 for d in range(64)]


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 vs a fixed query vector (TakeOrdered)."""
    from solrizer_spark.operators.similarity import brute_force_topk

    emb = _table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, _QUERY_VEC, k=10)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: exact cosine within the query's hyperplane bucket."""
    from solrizer_spark.operators.similarity import lsh_topk

    emb = _table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, _QUERY_VEC, k=10, n_bits=8)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded hyperplane LSH +
    exact cosine verify. Scaled copies (cos exactly 1.0, identical
    LSH bits ⇒ recall 1) are injected deterministically."""
    from solrizer_spark.operators.similarity import embedding_near_dup_pairs

    emb = _table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.001)).alias("embedding"),
    )
    union = emb.unionByName(copies)
    return embedding_near_dup_pairs(union, threshold=0.9999, dims=64)


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrizer_spark.functions.text_stats import langid

    docs = _table(spark, sf_dir, "documents")
    return docs.select("doc_id", langid("text").alias("lang_pred"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrizer_spark.functions.text_stats import quality_score, subword_count_estimate

    docs = _table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        quality_score("text").alias("quality"),
        subword_count_estimate("text").alias("subword_tokens"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrizer_spark.functions.text_stats import rolling_fingerprint

    docs = _table(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_fingerprint("text").alias("fingerprint"))


def _media_assets(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """Deterministic fake media assets derived from documents."""
    docs = _table(spark, sf_dir, "documents")
    w = F.lpad((F.col("doc_id") % 900 + 100).cast("string"), 6, "0")
    h = F.lpad(((F.col("doc_id") * 7) % 900 + 100).cast("string"), 6, "0")
    if kind == "image":
        header = F.concat(F.lit("IMG1"), w, h, F.lit("3"))
    else:
        nf = F.lpad((F.col("doc_id") % 50 + 20).cast("string"), 4, "0")
        header = F.concat(F.lit("VID1"), w, h, nf)
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.concat(header, F.col("text")), "UTF-8").alias("payload"),
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column → typed metadata struct (stubbed decode,
    real Arrow plumbing)."""
    from solrizer_spark.operators.multimodal import media_metadata_stage

    assets = _media_assets(spark, sf_dir, "image")
    out = media_metadata_stage(assets)
    m = F.col("media_meta")
    return out.select(
        "asset_id", m["kind"].alias("kind"), m["width"].alias("width"),
        m["height"].alias("height"), m["channels"].alias("channels"),
        m["n_bytes"].alias("n_bytes"), m["valid"].alias("valid"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction plumbing: payload binary →
    deterministic 8-dim pseudo-embedding via an Arrow-batched pandas
    UDF, exploded to (asset, dim, value) rows so the oracle compares
    doubles bit-for-bit."""
    from solrizer_spark.operators.multimodal import media_feature_stage

    assets = _media_assets(spark, sf_dir, "image")
    out = media_feature_stage(assets, dim=8)
    return out.select(
        "asset_id", F.posexplode("features").alias("dim_idx", "value")
    ).select("asset_id", F.col("dim_idx").cast("long").alias("dim_idx"), "value")


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video 1→N frame-sampling fan-out via mapInPandas."""
    from solrizer_spark.operators.multimodal import frame_sample_stage

    assets = _media_assets(spark, sf_dir, "video")
    return frame_sample_stage(assets, every_n=10)


def q_handles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Handle parse + 3 output forms (handles/__init__.py:54-101,
    indexers/handles.py:25-49) over synthesized handle strings in all
    four accepted input forms plus an unparseable one."""
    from solrizer_spark.functions.handles import handle_fields

    orders = _table(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey").cast("string")
    raw = (
        F.when(F.col("o_orderkey") % 17 == 0, F.concat(F.lit("invalid"), k))
        .when(F.col("o_orderkey") % 4 == 0, F.concat(F.lit("hdl:1903.1/"), k))
        .when(F.col("o_orderkey") % 4 == 1, F.concat(F.lit("info:hdl/1903.1/"), k))
        .when(F.col("o_orderkey") % 4 == 2, F.concat(F.lit("http://hdl.handle.net/1903.1/"), k))
        .otherwise(F.concat(F.lit("1903.1/"), k))
    )
    h = handle_fields(raw)
    return orders.select(
        "o_orderkey",
        h["handle_id"].alias("handle_id"),
        h["handle_uri"].alias("handle_uri"),
        h["handle_proxied_uri"].alias("handle_proxied_uri"),
    )


def q_curie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URI → CURIE shortening (shorten_uri, content_model.py:374-383)."""
    from solrizer_spark.functions.uris import shorten_uri

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id").cast("string")
    uri = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("http://purl.org/dc/terms/title"), k))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("http://pcdm.org/models#Object"), k))
        .otherwise(F.concat(F.lit("http://example.org/other/"), k))
    )
    return docs.select("doc_id", shorten_uri(uri).alias("curie"))


def q_display_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-tier display-value ordering + language-tag embedding
    (get_display_values, content_model.py:278-293)."""
    from solrizer_spark.functions.uris import display_values

    docs = _table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    vals = F.array(
        F.struct(F.element_at(toks, 1).alias("value"), F.lit("en").alias("lang")),
        F.struct(F.element_at(toks, 2).alias("value"), F.lit("de").alias("lang")),
        F.struct(F.element_at(toks, 3).alias("value"), F.lit(None).cast("string").alias("lang")),
        F.struct(F.element_at(toks, 4).alias("value"), F.lit("fr").alias("lang")),
    )
    return docs.select(
        "doc_id",
        F.array_join(display_values(vals, F.col("lang")), "|").alias("display"),
    )


def q_iiif_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IIIF identifier encoding (iiif_links.py:30-43)."""
    from solrizer_spark.functions.uris import iiif_identifier

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    path = F.concat(
        F.lit("/images/"), F.col("doc_id").cast("string"),
        F.lit("/page/"), (F.col("doc_id") % 7).cast("string"),
    )
    return docs.select("doc_id", iiif_identifier(path).alias("iiif_id"))


def q_iiif_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IIIF links fields (iiif_links_fields, iiif_links.py:46-68):
    manifest id + URITemplate-expanded manifest URI, and per-page
    thumbnail ids/URIs via the best-image preference cascade
    (preservation-master image → tiff → jpeg → any image) with the
    ``static:unavailable`` fallback. Page 1 exercises a different
    cascade tier per doc_id%4; page 2 always has no files."""
    from solrizer_spark.plans.pipeline import run_chain

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id").cast("string")

    def ffile(mime: str, rdf: list[str], path: Column) -> Column:
        return F.struct(
            F.lit(mime).alias("mime_type"),
            F.array(*[F.lit(r) for r in rdf]).cast("array<string>").alias("rdf_types"),
            path.alias("path"),
        )

    p = lambda leaf: F.concat(F.lit("/files/"), k, F.lit("/" + leaf))
    m4 = F.col("doc_id") % 4
    page1_files = (
        F.when(m4 == 0, F.array(
            ffile("image/tiff", ["pcdmuse:PreservationMasterFile"], p("pres")),
            ffile("image/jpeg", [], p("decoy")),
        ))
        .when(m4 == 1, F.array(
            ffile("text/plain", ["pcdmuse:PreservationMasterFile"], p("txt")),
            ffile("image/tiff", [], p("tiff")),
            ffile("image/jpeg", [], p("decoy")),
        ))
        .when(m4 == 2, F.array(
            ffile("text/html", [], p("html")),
            ffile("image/jpeg", [], p("jpeg")),
            ffile("image/png", [], p("decoy")),
        ))
        .otherwise(F.array(
            ffile("text/html", [], p("html")),
            ffile("image/png", [], p("png")),
        ))
    )
    empty_files = F.array().cast(
        "array<struct<mime_type:string,rdf_types:array<string>,path:string>>"
    )
    base = docs.select(
        "doc_id",
        F.concat(F.lit("https://repo.example.org/obj/"), k).alias("url"),
        F.array(
            F.struct(page1_files.alias("page__has_file")),
            F.struct(empty_files.alias("page__has_file")),
        ).alias("pages"),
    )
    out = run_chain(base, ["iiif_links"], conf={})
    return out.select(
        "doc_id",
        F.col("iiif_manifest__id").alias("manifest_id"),
        F.col("iiif_manifest__uri").alias("manifest_uri"),
        F.array_join(F.col("iiif_thumbnail_sequence__ids"), "|").alias("thumb_ids"),
        F.array_join(F.col("iiif_thumbnail_sequence__uris"), "|").alias("thumb_uris"),
    )


def q_atomic_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Old-vs-new snapshot atomic update diff (solr.py:27-58):
    modified / deleted / added rows over a deterministic mutation of
    the documents table."""
    from solrizer_spark.operators.atomic import atomic_diff

    docs = _table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "text", "lang"
    )
    new = (
        docs.where(F.col("id") % 13 != 0)  # deletions
        .withColumn(
            "text",
            F.when(F.col("id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))).otherwise(F.col("text")),
        )
        .withColumn(
            "lang",
            F.when(F.col("id") % 11 == 0, F.lit("uk")).otherwise(F.col("lang")),
        )
    )
    added = docs.where(F.col("id") % 19 == 0).select(
        (F.col("id") + 200000).alias("id"), "text", "lang"
    )
    new = new.unionByName(added)
    diff = atomic_diff(docs, new, id_col="id", fields=["text", "lang"])
    return diff.select(
        "id",
        "op",
        F.explode_outer(F.col("updates")).alias("field", "set_json"),
    )


def q_edtf_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDTF → Solr DateRange + qualifier flags + precision
    (dates.py:46-141 semantics; corpus docs/EDTFtoDateRange.md) over
    deterministically synthesized EDTF strings."""
    from solrizer_spark.operators.dates import edtf_stage

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    y = (F.col("doc_id") % 200 + 1900).cast("string")
    y2 = (F.col("doc_id") % 200 + 1902).cast("string")
    edtf = (
        F.when(F.col("doc_id") % 8 == 0, y)
        .when(F.col("doc_id") % 8 == 1, F.concat(y, F.lit("-06")))
        .when(F.col("doc_id") % 8 == 2, F.concat(y, F.lit("-06-15")))
        .when(F.col("doc_id") % 8 == 3, F.concat(y, F.lit("/"), y2))
        .when(F.col("doc_id") % 8 == 4, F.concat(y, F.lit("-21")))
        .when(F.col("doc_id") % 8 == 5, F.concat(y, F.lit("?")))
        .when(F.col("doc_id") % 8 == 6, F.lit("19XX"))
        .otherwise(F.concat(F.lit("../"), y))
    )
    out = edtf_stage(docs.withColumn("date__edtf", edtf), "date__edtf")
    return out.select(
        "doc_id",
        "date__edtf",
        F.col("date__dt").alias("dt"),
        F.col("date__dt_is_uncertain").alias("is_uncertain"),
        F.col("date__dt_precision__int").alias("precision"),
    )


#: deterministic IVF centroids (plan-time literals; production: a
#: driver-side k-means/sample result)
_IVF_CENTROIDS = [
    [(((j * 13 + d * 5) % 17) - 8) / 8.0 for d in range(64)] for j in range(8)
]


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: nearest-centroid inverted lists, probe
    the 2 cells nearest the query, exact cosine within them."""
    from solrizer_spark.operators.similarity import ivf_topk

    emb = _table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, _QUERY_VEC, _IVF_CENTROIDS, k=10, nprobe=2)


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, BPE-ish regex runs,
    length-based subword estimate."""
    from solrizer_spark.functions.text_stats import (
        bpe_token_count,
        subword_count_estimate,
        token_count,
    )

    docs = _table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        bpe_token_count("text").alias("bpe_tokens"),
        subword_count_estimate("text").alias("subword_est"),
    )


def q_bpe_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training stage 1: corpus word-frequency table, top 200 by
    (freq desc, word asc) — the deterministic tie-break makes the
    limit boundary reproducible, so the oracle's row SET matches.
    This is the only corpus-sized stage of BPE training (one map-side
    combinable shuffle); merge learning runs on this bounded table."""
    from solrizer_spark.functions.bpe import top_words

    docs = _table(spark, sf_dir, "documents").select("text")
    return top_words(docs, "text", k=200)


#: root for oracle side tables. The default is fixed, so oracle_sql()
#: renders the same text in every process; two concurrent
#: harness/bench runs that must not clobber or cross-read each
#: other's centroid/merge tables set SOLRIZER_ORACLE_RUN_DIR apart.
import os as _os

_ORACLE_RUN_DIR = _os.environ.get("SOLRIZER_ORACLE_RUN_DIR", "/tmp/solrizer_oracle")

#: parquet side table q_kmeans_clusters materializes for its oracle:
#: the trained centroids, from which DuckDB re-derives every vector's
#: assignment (training is iterative; assignment is deterministic)
KMEANS_CENTROIDS_ORACLE_PATH = f"{_ORACLE_RUN_DIR}/kmeans_centroids"


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine IVF centroid training + assignment: distributed
    spherical k-means (``kmeans_fit`` — Lloyd's over posexplode/
    groupBy partial sums, deterministic hash-seeded init), then each
    vector's (cell, cosine-to-centroid).

    VALUE-CHECKED via the BPE pattern: training is iterative (not
    SQL-expressible), but assignment GIVEN the trained centroids is
    deterministic, so the query persists the centroids as a
    ``(cell, pos, w double)`` side table and the DuckDB oracle
    recomputes every assignment from the identical persisted doubles
    with the same left-fold term order (bit-parity cosines → same
    argmax, same rounding)."""
    from solrizer_spark.operators.similarity import (
        assign_ivf_cell_sim,
        kmeans_fit,
    )
    from solrizer_spark.session import local_df, write_local_parquet

    emb = _table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = kmeans_fit(emb, k=4, n_iter=3)
    rows = [
        (c, p, w) for c, vec in enumerate(cents) for p, w in enumerate(vec)
    ]
    write_local_parquet(rows, "cell int, pos int, w double", KMEANS_CENTROIDS_ORACLE_PATH)
    return (
        emb.withColumn("_a", assign_ivf_cell_sim(F.col("embedding"), cents))
        .select(
            "vec_id",
            F.col("_a.cell").alias("cell"),
            F.round(F.col("_a.sim"), 6).alias("cos_sim"),
        )
    )


#: parquet side tables q_ann_pq (the 'pq' leg of the ann_topk
#: composite) materializes: the trained PQ codebooks and the
#: integer-quantized ADC lookup table. Training is iterative (not
#: SQL-expressible; pinned by tests/test_pq.py), but encode + ADC +
#: re-rank GIVEN the persisted doubles/ints are deterministic — the
#: kmeans/BPE side-table pattern. The LUT is INTEGER-quantized
#: (similarity.pq_lut), so the ADC shortlist sum is order-free and
#: needs no float-fold parity discipline at all.
PQ_CODEBOOK_ORACLE_PATH = f"{_ORACLE_RUN_DIR}/pq_codebook"
PQ_LUT_ORACLE_PATH = f"{_ORACLE_RUN_DIR}/pq_lut"
_PQ_M, _PQ_K = 8, 16


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ scale path (Jégou et al. 2011): train product-quantizer
    codebooks in-engine (fused per-subspace Lloyd's, one distributed
    pass per round), encode every vector to an m-byte code (pure
    codegen), shortlist by integer-LUT asymmetric distance
    (TakeOrdered), exact-cosine re-rank to the final top-10."""
    from solrizer_spark.operators.similarity import pq_lut, pq_topk, pq_train
    from solrizer_spark.session import local_df, write_local_parquet

    emb = _table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # codebooks train on a bounded deterministic sample (FAISS
    # practice; ~10^3 vectors per codeword suffices) — the oracle is
    # unaffected because it re-derives everything from the PERSISTED
    # codebooks, whatever sample trained them. Count and dims ride ONE
    # job (round 6: they were two separate scheduled scans).
    n, dims = emb.agg(
        F.count(F.lit(1)), F.first(F.size("embedding"))
    ).collect()[0]
    frac = 1.0 if n <= 20_000 else max(0.05, 20_000 / n)
    books = pq_train(
        emb, m=_PQ_M, k=_PQ_K, n_iter=3, train_fraction=frac, dims=dims
    )
    rows = [
        (j, c, p, w)
        for j, book in enumerate(books)
        for c, cw in enumerate(book)
        for p, w in enumerate(cw)
    ]
    write_local_parquet(rows, "sub int, cell int, pos int, w double", PQ_CODEBOOK_ORACLE_PATH)
    lut = pq_lut(_QUERY_VEC, books)
    lrows = [(j, c, int(v)) for j, row in enumerate(lut) for c, v in enumerate(row)]
    write_local_parquet(lrows, "sub int, cell int, lutq bigint", PQ_LUT_ORACLE_PATH)
    return pq_topk(emb, _QUERY_VEC, books, k=10, shortlist=64)


#: parquet side table q_bpe_tokens materializes for its oracle: the
#: oracle re-derives every doc's token stream FROM THE LEARNED MERGES
#: (recursive CTE), so tokenization is value-checked, not rows-only
BPE_MERGES_ORACLE_PATH = f"{_ORACLE_RUN_DIR}/bpe_merges"


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE end-to-end: learn 64 merges from the corpus (distributed
    word count -> bounded top-k collect -> driver merge loop), then
    tokenize with one Arrow-batched, word-memoized pandas UDF.

    VALUE-CHECKED: merge LEARNING is iterative (not SQL-expressible;
    pinned by tests/test_bpe.py — classic Sennrich merge-order case +
    hypothesis round-trip property), but tokenization GIVEN the
    learned merges is deterministic, so the query persists the merge
    table to ``BPE_MERGES_ORACLE_PATH`` and the DuckDB oracle
    re-applies the merges per word with a recursive CTE (sequential
    Sennrich passes — equivalent to the engine's GPT-2 lowest-rank
    greedy loop for self-consistent learned merge lists, where every
    pair's components are single symbols or products of strictly
    earlier merges) and reassembles per-doc token streams.
    All output columns are SCALAR (the token array is space-joined):
    the driver's canonicalizer sorts raw column values, and an
    array<string> column is unhashable there."""
    from solrizer_spark.functions.bpe import bpe_tokenize, bpe_train, save_merges

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = bpe_train(docs, "text", num_merges=64, top_k=5000)
    save_merges(spark, merges, BPE_MERGES_ORACLE_PATH)
    return bpe_tokenize(docs, merges, "text").select(
        "doc_id",
        F.size("bpe_tokens").alias("n_bpe_tokens"),
        F.array_join("bpe_tokens", " ").alias("bpe_text"),
    )


def q_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed inverted-index build: flat capped posting lists
    (term, df, doc_id, tf, first_pos, posting_rank), impact-ordered
    (tf desc), df computed UNCAPPED. Runs the SALTED two-phase cap
    (the 10^12-doc stopword-skew path: partial top-cap per
    (term, salt), exact final rank — output-identical to the direct
    single-window form, which this oracle therefore pins)."""
    from solrizer_spark.operators.indexing import inverted_postings

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    return inverted_postings(docs, max_postings_per_term=20, salt_partitions=4)


def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval over the built index: top-20 docs for a 3-term
    query, conjunctive-first OR ranking (n_matched desc, integer
    ratio-TF-IDF score desc, doc_id asc). The term filter pushes into
    the postings relation; top-k is TakeOrdered."""
    from solrizer_spark.operators.indexing import (
        inverted_postings,
        search_postings,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    postings = inverted_postings(docs, max_postings_per_term=50)
    return search_postings(
        postings, ["spark", "window", "merge"], k=20
    )


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 keywords per document by integer ratio-TF-IDF
    (score = tf*10^6 div df — exact integer floor division; log-idf
    deliberately avoided for cross-engine bit parity)."""
    from solrizer_spark.operators.indexing import tfidf_keywords

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_keywords(docs, k=5)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank (5 rounds, damping 85/100, mass
    10^12) over a deterministic 17-host synthetic link graph derived
    from doc_id residues. Every step is exact integer arithmetic
    (DIV floor-division), so the DuckDB recursive-CTE oracle —
    an independent implementation — hash-matches bit-for-bit."""
    from solrizer_spark.operators.graph import pagerank

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    src = F.concat(F.lit("h"), (F.col("doc_id") % 17).cast("string"))
    dst = F.concat(F.lit("h"), ((F.col("doc_id") * 7 + 3) % 17).cast("string"))
    edges = docs.select(src.alias("src"), dst.alias("dst")).where(
        F.col("src") != F.col("dst")
    )
    return pagerank(edges, iterations=5)


def q_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness slots, both modes side by side: exact
    (windowed row_number cap) and hash (count + md5-bucket, the
    skew-immune scale path). Deterministic url set from doc_id."""
    from solrizer_spark.operators.crawl import fetch_schedule

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    urls = docs.select(
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p"), F.col("doc_id").cast("string"),
        ).alias("url")
    )
    exact = fetch_schedule(urls, per_slot=10, mode="exact").withColumnRenamed(
        "slot", "slot_exact"
    )
    hashed = fetch_schedule(urls, per_slot=10, mode="hash").select(
        "url", F.col("slot").alias("slot_hash")
    )
    return exact.join(hashed, "url").select(
        "url", "host", "slot_exact", "slot_hash"
    )


def q_lm_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-backoff LM fluency (λ=7/10 bigram + 3/10 unigram).
    λ and 1−λ are computed with the same IEEE ops in both engines
    (never written as the decimal 0.3, whose double differs from
    1−0.7); everything else is integer ratios + order-pinned folds."""
    from solrizer_spark.operators.lm import (
        lm_score_backoff,
        train_bigram_model,
        train_unigram_model,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    return lm_score_backoff(
        docs, train_bigram_model(docs, min_count=2), train_unigram_model(docs)
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a synthetic crawl increment vs the
    documents base: doc_id%5==0 → near-dup (last token dropped),
    else doc_id%7==0 → exact copy, else fresh vocabulary. The oracle
    re-derives survivors with TRUE Jaccard against every base doc
    (no LSH) — recall parity of the banded path is part of the
    check, as in `dedup_minhash_lsh`."""
    from solrizer_spark.operators.dedup import dedup_against_base

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    fresh = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda j: F.concat(
                F.lit("w"), F.col("doc_id").cast("string"), F.lit("x"),
                j.cast("string"),
            ),
        ),
    )
    # text expr FIRST: Spark's lateral column aliasing would otherwise
    # resolve the doc_id inside `fresh` to the just-aliased +100000 id
    new = docs.select(
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1)),
        )
        .when(F.col("doc_id") % 7 == 0, F.col("text"))
        .otherwise(fresh)
        .alias("text"),
        (F.col("doc_id") + 100000).alias("doc_id"),
    ).select("doc_id", "text")
    return dedup_against_base(new, docs, threshold=0.8)


def q_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-target pairs (labeled web-graph edges) from synthetic
    html: JVM regex extraction, inner-markup strip, whitespace
    collapse. The oracle re-derives the expected pairs arithmetically
    (same independence pattern as `outlinks`). Double-quoted anchors
    precede single-quoted ones in the output order by contract."""
    from solrizer_spark.functions.urls import extract_anchors

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    m = (F.col("doc_id") % 9).cast("string")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<p><a href="https://ex'), m, F.lit(".co.uk/p?id="), did,
        F.lit('">Read <b>more</b>\n '), did, F.lit("</a>"),
        F.lit("<a href='/about'>About  Us</a></p>"),
    )
    return docs.select(
        "doc_id", F.posexplode(extract_anchors(html)).alias("pos", "pair")
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("pair.href").alias("href"),
        F.col("pair.text").alias("anchor"),
    )


def q_crawl_delay_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay-aware hash scheduling: hosts h0/h3/h6 declare
    delay 5s (→ 2 fetches per 10s slot), the rest take the default
    rate. Deterministic url/host/delay derivation from doc_id."""
    from solrizer_spark.operators.crawl import fetch_schedule_with_delays

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    urls = docs.select(
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p"), F.col("doc_id").cast("string"),
        ).alias("url")
    )
    hosts = spark.range(7).select(
        F.concat(F.lit("h"), F.col("id").cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.when(F.col("id") % 3 == 0, F.lit(5.0)).alias("crawl_delay"),
    )
    return fetch_schedule_with_delays(
        urls, hosts, slot_seconds=10.0, default_per_slot=10
    ).select("url", "host", "slot")


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scoring, self-trained on the corpus. All
    probabilities are exact integer ratios and per-doc sums fold in
    token order, so the doubles hash-match the oracle bit-for-bit
    (ln is deliberately absent: JVM Math.log != libm on ~7% of
    inputs — operators/lm.py docstring)."""
    from solrizer_spark.operators.lm import lm_score, train_bigram_model

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    model = train_bigram_model(docs, min_count=2)
    return lm_score(docs, model)


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + host/domain/path-depth extraction
    (crawl-corpus operator ahead of url-keyed dedup/repartition)."""
    from solrizer_spark.functions.urls import (
        normalize_url,
        registered_domain,
        url_host,
        url_path_depth,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    m = (F.col("doc_id") % 50).cast("string")
    url = (
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("HTTP://WWW.Example"), m, F.lit(".COM:80/a/b/?z=3&a=1#frag")))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.lit("https://sub.site"), m, F.lit(".co.uk/path/page")))
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit("https://cdn.example"), m, F.lit(".org:8443/x")))
        .when(F.col("doc_id") % 5 == 3,
              F.concat(F.lit("http://example"), m, F.lit(".com")))
        .otherwise(
            F.concat(F.lit("https://a.b.example"), m, F.lit(".net/one/two/three?b=2&a=1")))
    )
    return docs.select(
        "doc_id",
        url_host(url).alias("host"),
        registered_domain(url).alias("domain"),
        url_path_depth(url).alias("path_depth"),
        normalize_url(url).alias("normalized"),
    )


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filtering: synthesized urls over documents,
    broadcast anti-join against a blocklist of every 7th domain."""
    from solrizer_spark.functions.urls import filter_blocked_domains

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    m = (F.col("doc_id") % 50).cast("string")
    url = F.concat(F.lit("https://www.example"), m, F.lit(".com/page/"), F.col("doc_id").cast("string"))
    base = docs.withColumn("url", url)
    block = spark.range(50).where(F.col("id") % 7 == 0).select(
        F.concat(F.lit("example"), F.col("id").cast("string"), F.lit(".com")).alias("domain")
    )
    return filter_blocked_domains(base, block).select("doc_id", "url")


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints (k=8 char-grams, window=4)."""
    from solrizer_spark.functions.text_stats import winnow_fingerprints

    docs = _table(spark, sf_dir, "documents")
    fps = winnow_fingerprints("text", k=8, window=4)
    return docs.select(
        "doc_id",
        F.size(fps).alias("n_fps"),
        F.element_at(fps, 1).alias("fp_min"),
        F.element_at(fps, -1).alias("fp_max"),
    )


_SAMPLE_RATES = {"en": 0.2, "de": 0.5, "zh": 1.0}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language corpus mixing (hash-based sampleBy
    analog; reproducible across engines/reruns)."""
    from solrizer_spark.operators.sampling import stratified_hash_sample

    docs = _table(spark, sf_dir, "documents").select(
        "doc_id", F.col("doc_id").cast("string").alias("key"), "lang"
    )
    out = stratified_hash_sample(
        docs, "key", "lang", _SAMPLE_RATES, default_fraction=0.1
    )
    return out.select("doc_id", "lang")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters over deterministically mangled
    docs: every third doc gets its first 'line' repeated (dup-line
    fraction > 0) and every fifth gets a bigram loop appended (top
    2-gram fraction inflated)."""
    from solrizer_spark.functions.text_stats import (
        dup_line_fraction,
        top_ngram_fraction,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    first_line = F.array_join(F.slice(toks, 1, 5), " ")
    lines = F.concat(
        first_line, F.lit("\n"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(first_line, F.lit("\n"))).otherwise(F.lit("")),
        F.col("text"),
    )
    looped = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.col("text"), F.lit(" loop beat loop beat loop beat loop beat")),
    ).otherwise(F.col("text"))
    return docs.select(
        "doc_id",
        dup_line_fraction(lines).alias("dup_line_frac"),
        top_ngram_fraction(looped, 2).alias("top_bigram_frac"),
    )


def q_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation: top-3 docs per language by quality score (window
    rank per group; deterministic doc_id tiebreak)."""
    from solrizer_spark.functions.text_stats import quality_score
    from solrizer_spark.operators.sampling import topk_per_group

    docs = _table(spark, sf_dir, "documents").select(
        "doc_id", "lang", quality_score("text").alias("quality")
    )
    out = topk_per_group(
        docs, "lang", [F.col("quality").desc(), F.col("doc_id").asc()], k=3
    )
    return out.select("lang", "doc_id", "quality", "group_rank")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: per-language 4096-token training bins by
    running token count in doc_id order."""
    from solrizer_spark.functions.text_stats import token_count
    from solrizer_spark.operators.sampling import pack_sequences

    docs = _table(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count("text").alias("n_tokens")
    )
    out = pack_sequences(
        docs, "lang", [F.col("doc_id").asc()], "n_tokens", capacity=4096
    )
    return out.select("doc_id", "lang", "n_tokens", "bin_id", "bin_offset")


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus report: docs, token volume, mean quality,
    exact median length (percentile parity with quantile_cont)."""
    from solrizer_spark.functions.text_stats import quality_score, token_count

    docs = _table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count("text")).alias("total_tokens"),
            F.round(F.avg(quality_score("text")), 4).alias("avg_quality"),
            F.expr("percentile(n_chars, 0.5)").alias("median_chars"),
        )
    )


def q_curate_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation-chain COMPOSITION through curate.apply_op —
    the spark-submit entrypoint's own op dispatcher — running the
    canonical cleaning chain linededup → normalize → scrub →
    exactdedup → mix over a corpus with injected boilerplate lines,
    tab-mangled duplicate bodies, and per-doc PII. This pins the
    column contracts BETWEEN stages (each op both consumes and renames
    the text column), not just each operator alone:

    * corpus-constant banner/footer lines are dropped by linededup
      (count >= 3); the pair bodies appear exactly twice so they
      survive it;
    * the PII line is unique per doc BEFORE scrubbing, identical
      AFTER — so exactdedup's result depends on scrub having run
      (docs doc_id%10 in (6,7) share a body and collapse to the
      doc_id%10==6 row only post-scrub);
    * mix's per-language counts are over the POST-dedup corpus.
    """
    import argparse

    import curate

    docs = _table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    k = F.col("doc_id")
    pair_body = F.concat(
        F.lit("PAIR\tBODY "), F.floor(k / 10).cast("long").cast("string")
    )
    body = F.when((k % 10).isin(6, 7), pair_body).otherwise(F.col("text"))
    pii_line = F.concat(
        F.lit("Contact user"), k.cast("string"),
        F.lit("@ex"), (k % 9).cast("string"), F.lit(".com at 10.0."),
        (k % 256).cast("string"), F.lit("."), (k % 100).cast("string"),
        F.lit(" or 555-"), F.lpad((k % 1000).cast("string"), 3, "0"),
        F.lit("-"), F.lpad((k * 7 % 10000).cast("string"), 4, "0"), F.lit(" now"),
    )
    base = docs.select(
        "doc_id",
        "lang",
        F.concat_ws(
            "\n",
            F.lit("SHARED COOKIE BANNER"),
            body,
            pii_line,
            F.concat(F.lit("footer-"), (k % 7).cast("string")),
            F.lit("ALL RIGHTS RESERVED"),
        ).alias("text"),
    )
    args = argparse.Namespace(
        line_min_count=3, mix_source_col="lang", mix_temperature=0.5
    )
    df = base
    persisted: list = []
    for op in ("linededup", "normalize", "scrub", "exactdedup", "mix"):
        df = curate.apply_op(df, op, args, "doc_id", "text", persisted)
    return df.select("doc_id", "lang", "text")


# --------------------------------------------------------------------------
# composite queries (round 5): the driver records at most the first 50
# ``queries()`` entries, so operator families are consolidated into
# wide joins (same key, same row count) or tagged unions (sentinel
# -1 / '' for fields a branch lacks — sentinels, not NULLs, so both
# engines keep non-nullable int64/str dtypes through the driver's
# pandas canonicalizer). Every component query function above is kept:
# tests, plan audits, and bench time the components; the registry
# exposes the composites so EVERY operator family has a driver
# CORRECTNESS row.
# --------------------------------------------------------------------------

_L = F.lit


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite of text_stats + quality_score + langid + token_counts
    + fingerprint + winnow_fingerprints: one zero-shuffle projection
    over ``documents`` (all six are per-doc Column expressions)."""
    from solrizer_spark.functions.text_stats import (
        bpe_token_count,
        langid,
        quality_score,
        rolling_fingerprint,
        subword_count_estimate,
        winnow_fingerprints,
    )

    docs = _table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    fps = winnow_fingerprints("text", k=8, window=4)
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.round(
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double") / n, 4
        ).alias("avg_token_len"),
        F.round(stop.cast("double") / n, 4).alias("stopword_ratio"),
        quality_score("text").alias("quality"),
        subword_count_estimate("text").alias("subword_tokens"),
        langid("text").alias("lang_pred"),
        bpe_token_count("text").alias("bpe_tokens"),
        rolling_fingerprint("text").alias("fingerprint"),
        F.size(fps).alias("n_fps"),
        F.element_at(fps, 1).alias("fp_min"),
        F.element_at(fps, -1).alias("fp_max"),
    )


def q_scrub_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite of pii_scrub + text_normalize (join on doc_id)."""
    a = q_pii_scrub(spark, sf_dir)
    b = q_text_normalize(spark, sf_dir)
    return a.join(b, "doc_id")


def q_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite of lm_score + lm_backoff (join on doc_id; the
    backoff columns carry a ``_bo`` suffix) + the CCNet head/middle/
    tail perplexity tier (rank-selected tertile thresholds on
    mean_p — sampling.score_buckets; unscorable docs → NULL)."""
    from solrizer_spark.operators.sampling import score_buckets

    a = q_lm_score(spark, sf_dir)
    b = q_lm_backoff(spark, sf_dir).select(
        "doc_id",
        F.col("oov_rate").alias("oov_rate_bo"),
        F.col("mean_p").alias("mean_p_bo"),
    )
    return score_buckets(
        a.join(b, "doc_id"), "mean_p", n_buckets=3,
        key_col="doc_id", out_col="ppl_bucket",
    )


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite of fetch_schedule (exact + hash modes) +
    crawl_delay_schedule (join on url)."""
    a = q_fetch_schedule(spark, sf_dir)
    b = q_crawl_delay_schedule(spark, sf_dir).select(
        "url", F.col("slot").alias("slot_delay")
    )
    return a.join(b, "url")


def q_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of inverted_postings (salted two-phase cap) +
    tfidf_keywords + keyword_search over one relation."""
    p = q_inverted_postings(spark, sf_dir)
    t = q_tfidf_keywords(spark, sf_dir)
    s = q_keyword_search(spark, sf_dir)
    u1 = p.select(
        _L("postings").alias("stage"), "term", "doc_id",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.col("posting_rank").cast("long").alias("rnk"),
        F.col("first_pos").cast("long").alias("first_pos"),
        _L(-1).cast("long").alias("score"),
    )
    u2 = t.select(
        _L("tfidf").alias("stage"), "term", "doc_id",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.col("keyword_rank").cast("long").alias("rnk"),
        _L(-1).cast("long").alias("first_pos"),
        F.col("score").cast("long").alias("score"),
    )
    u3 = s.select(
        _L("search").alias("stage"), _L("").alias("term"), "doc_id",
        F.col("n_matched").cast("long").alias("tf"),
        _L(-1).cast("long").alias("df"),
        _L(-1).cast("long").alias("rnk"),
        _L(-1).cast("long").alias("first_pos"),
        F.col("score").cast("long").alias("score"),
    )
    return u1.unionByName(u2).unionByName(u3)


_TOKEN_BUDGET = 2_000
_TOKEN_BUDGET_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget source mixing (sampling.token_budget_mix), both
    modes over the same weights: ``approx`` = hash-threshold rate
    min(1, target/tokens) (the 10^12 shape — no sorts), ``exact`` =
    per-source running-sum cutoff (budget hit exactly)."""
    from solrizer_spark.functions.text_stats import token_count
    from solrizer_spark.operators.sampling import token_budget_mix

    docs = _table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("doc_id").cast("string").alias("key"),
        "source",
        token_count("text").alias("toks"),
    )
    legs = []
    for mode, exact in (("approx", False), ("exact", True)):
        legs.append(
            token_budget_mix(
                docs, _TOKEN_BUDGET, "source", "key", "toks",
                weights=_TOKEN_BUDGET_WEIGHTS, salt="tb", exact=exact,
            ).select(
                _L(mode).alias("mode"),
                "doc_id",
                "source",
                F.col("toks").cast("long").alias("toks"),
                F.col("_target_tokens").alias("target_tokens"),
            )
        )
    return legs[0].unionByName(legs[1])


def q_sampling_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of stratified_sample + quality_topk +
    repetition_stats + token_budget_mix."""
    a = q_stratified_sample(spark, sf_dir).select(
        _L("sample").alias("stage"), "doc_id", "lang",
        _L(-1.0).alias("q1"), _L(-1.0).alias("q2"),
        _L(-1).cast("long").alias("rnk"),
    )
    b = q_quality_topk(spark, sf_dir).select(
        _L("topk").alias("stage"), "doc_id", "lang",
        F.col("quality").alias("q1"), _L(-1.0).alias("q2"),
        F.col("group_rank").cast("long").alias("rnk"),
    )
    c = q_repetition_stats(spark, sf_dir).select(
        _L("repetition").alias("stage"), "doc_id", _L("").alias("lang"),
        F.col("dup_line_frac").alias("q1"),
        F.col("top_bigram_frac").alias("q2"),
        _L(-1).cast("long").alias("rnk"),
    )
    d = q_token_budget_mix(spark, sf_dir).select(
        F.concat(_L("budget_"), F.col("mode")).alias("stage"),
        "doc_id",
        F.col("source").alias("lang"),
        F.col("toks").cast("double").alias("q1"),
        F.col("target_tokens").cast("double").alias("q2"),
        _L(-1).cast("long").alias("rnk"),
    )
    return a.unionByName(b).unionByName(c).unionByName(d)


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of domain_stats (by eTLD+1) + corpus_stats
    (by language)."""
    a = q_domain_stats(spark, sf_dir).select(
        _L("domain").alias("stage"), F.col("domain").alias("grp"),
        "n_docs", "total_tokens",
        F.col("mean_chars").alias("v1"), _L(-1.0).alias("v2"),
    )
    b = q_corpus_stats(spark, sf_dir).select(
        _L("language").alias("stage"), F.col("lang").alias("grp"),
        "n_docs", "total_tokens",
        F.col("avg_quality").alias("v1"),
        F.col("median_chars").cast("double").alias("v2"),
    )
    return a.unionByName(b)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of the four ANN strategies (brute force /
    hyperplane LSH / IVF / IVF-PQ) for the same query vector."""
    a = q_ann_bruteforce(spark, sf_dir).select(
        _L("brute").alias("stage"), "vec_id", "cos_sim"
    )
    b = q_ann_lsh(spark, sf_dir).select(
        _L("lsh").alias("stage"), "vec_id", "cos_sim"
    )
    c = q_ann_ivf(spark, sf_dir).select(
        _L("ivf").alias("stage"), "vec_id", "cos_sim"
    )
    d = q_ann_pq(spark, sf_dir).select(
        _L("pq").alias("stage"), "vec_id", "cos_sim"
    )
    return a.unionByName(b).unionByName(c).unionByName(d)


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of url_normalize + blocklist_filter."""
    a = q_url_normalize(spark, sf_dir).select(
        _L("normalize").alias("stage"), "doc_id", "host", "domain",
        F.col("path_depth").cast("long").alias("path_depth"), "normalized",
    )
    b = q_blocklist_filter(spark, sf_dir).select(
        _L("blocklist").alias("stage"), "doc_id",
        _L("").alias("host"), _L("").alias("domain"),
        _L(-1).cast("long").alias("path_depth"),
        F.col("url").alias("normalized"),
    )
    return a.unionByName(b)


def q_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of outlinks + anchors."""
    a = q_outlinks(spark, sf_dir).select(
        _L("outlinks").alias("stage"), "doc_id",
        _L(-1).cast("long").alias("pos"),
        F.col("links").alias("s1"), F.col("domains").alias("s2"),
        F.col("n_links").cast("long").alias("n"),
    )
    b = q_anchors(spark, sf_dir).select(
        _L("anchors").alias("stage"), "doc_id", "pos",
        F.col("href").alias("s1"), F.col("anchor").alias("s2"),
        _L(-1).cast("long").alias("n"),
    )
    return a.unionByName(b)


def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of multimodal_meta (packed into one string) +
    media_features + frame_sample."""
    m = q_multimodal_meta(spark, sf_dir).select(
        _L("meta").alias("stage"), "asset_id",
        _L(-1).cast("long").alias("idx"), _L(-1.0).alias("num"),
        F.concat_ws(
            "|", F.col("kind"), F.col("width").cast("string"),
            F.col("height").cast("string"), F.col("channels").cast("string"),
            F.col("n_bytes").cast("string"), F.col("valid").cast("string"),
        ).alias("sval"),
    )
    f = q_media_features(spark, sf_dir).select(
        _L("feature").alias("stage"), "asset_id",
        F.col("dim_idx").cast("long").alias("idx"),
        F.col("value").alias("num"), _L("").alias("sval"),
    )
    fr = q_frame_sample(spark, sf_dir).select(
        _L("frame").alias("stage"), "asset_id",
        F.col("frame_index").cast("long").alias("idx"),
        _L(-1.0).alias("num"), F.col("frame_fingerprint").alias("sval"),
    )
    return m.unionByName(f).unionByName(fr)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of dedup_simhash (signatures) +
    dedup_simhash_pairs (hamming-≤3 pairs)."""
    a = q_dedup_simhash(spark, sf_dir).select(
        _L("sig").alias("stage"), F.col("doc_id").alias("id_a"),
        _L(-1).cast("long").alias("id_b"),
        F.col("simhash32").cast("long").alias("val"),
    )
    b = q_dedup_simhash_pairs(spark, sf_dir).select(
        _L("pairs").alias("stage"), "id_a", "id_b",
        F.col("hamming").cast("long").alias("val"),
    )
    return a.unionByName(b)


def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of dedup_minhash_lsh (banded LSH pairs) +
    dedup_ngram_jaccard (exact per-copy Jaccard)."""
    a = q_dedup_minhash_lsh(spark, sf_dir).select(
        _L("lsh").alias("stage"), "id_a", "id_b", "jaccard_sim"
    )
    b = q_dedup_ngram_jaccard(spark, sf_dir).select(
        _L("ngram").alias("stage"), F.col("doc_id").alias("id_a"),
        _L(-1).cast("long").alias("id_b"), "jaccard_sim",
    )
    return a.unionByName(b)


#: parquet side table q_semantic_dedup materializes for its oracle:
#: its own k-means centroids (decoupled from q_kmeans_clusters so the
#: two queries never race on one path)
SEMDEDUP_CENTROIDS_ORACLE_PATH = f"{_ORACLE_RUN_DIR}/semdedup_centroids"

#: parquet side table q_importance_resample materializes: the
#: feature-dim-sized integer log-ratio table (DSIR importance model)
DSIR_RATIOS_ORACLE_PATH = f"{_ORACLE_RUN_DIR}/dsir_ratios"

DSIR_BUCKETS = 512
DSIR_TOP_K = 100


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means cells over ``embeddings``
    → within-cell cosine ≥ 0.99 flags the higher vec_id as a semantic
    duplicate. Trains its own k=4 centroids and persists them for the
    oracle, which re-derives assignment AND the pair flags from the
    same table (training is iterative; everything after it is
    deterministic)."""
    from solrizer_spark.operators.similarity import kmeans_fit, semantic_dedup
    from solrizer_spark.session import local_df, write_local_parquet

    emb = _table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # the synthetic embeddings carry no natural near-dups (within-cell
    # cosine tops out ~0.51), so inject deterministic scaled copies —
    # the q_embedding_near_dup idiom — which the oracle mirrors and
    # RE-DERIVES through the same cell-assign + pair-cosine pipeline
    copies = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.001)).alias("embedding"),
    )
    union = emb.unionByName(copies)
    cents = kmeans_fit(emb, k=4, n_iter=3)
    rows = [
        (c, p, w) for c, vec in enumerate(cents) for p, w in enumerate(vec)
    ]
    write_local_parquet(rows, "cell int, pos int, w double", SEMDEDUP_CENTROIDS_ORACLE_PATH)
    return semantic_dedup(union, cents, tau=0.99)


def q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023, arXiv:2302.03169)
    over ``documents``: hashed word features, integer fixed-point
    log-ratio weights for target = the English subset, deterministic
    top-100 selection. The feature-dim-sized ratio table (512 rows) is
    persisted so the oracle recomputes every doc's weight from the
    same model with exact integer arithmetic."""
    from solrizer_spark.operators.sampling import (
        dsir_importance_weights,
        dsir_log_ratio_table,
    )
    from solrizer_spark.session import local_df, write_local_parquet

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    ratios = dsir_log_ratio_table(
        docs, "text", F.col("lang") == "en", buckets=DSIR_BUCKETS
    )
    write_local_parquet(ratios, "f int, qlog long", DSIR_RATIOS_ORACLE_PATH)
    return dsir_importance_weights(
        docs, ratios, "text", "doc_id", buckets=DSIR_BUCKETS, top_k=DSIR_TOP_K
    )


def q_html_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trafilatura-style page-metadata extraction (declared charset,
    canonical URL, og:title, meta description, publication date) as
    pure JVM ``regexp_extract`` — ``functions/html_meta.py``. Input:
    ``documents`` wrapped as pages whose <head> carries deterministic
    metadata derived from (doc_id, lang); the oracle re-derives the
    ground truth analytically, so a misfiring extractor hash-fails.

    The synthesis exercises the edge semantics: every 7th doc omits
    the description (NULL, not ''), every 3rd doc omits the ``<html
    lang>`` attribute (NULL), even docs carry BOTH an
    ``article:published_time`` meta and a decoy ``<time datetime>``
    (the cascade must prefer the meta), odd docs carry only the
    ``<time>`` tag.
    """
    from solrizer_spark.functions.html_meta import page_metadata

    docs = _table(spark, sf_dir, "documents").select("doc_id", "lang")
    sid = F.col("doc_id").cast("string")
    charset = F.element_at(
        F.array(_L("utf-8"), _L("windows-1252"), _L("shift_jis"), _L("iso-8859-1")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    pub = F.format_string("2023-06-01T%02d:00:00", (F.col("doc_id") % 24).cast("int"))
    desc_tag = F.when(F.col("doc_id") % 7 == 0, _L("")).otherwise(
        F.concat(_L('<meta name="description" content="desc-'),
                 F.col("lang"), _L("-"), sid, _L('">'))
    )
    pub_tags = F.when(
        F.col("doc_id") % 2 == 0,
        # meta carrier + decoy <time>: cascade precedence pinned
        F.concat(
            _L('<meta property="article:published_time" content="'),
            pub, _L('+00:00">'),
            _L('<time datetime="1999-01-01T00:00:00Z">decoy</time>'),
        ),
    ).otherwise(F.concat(_L('<time datetime="'), pub, _L('Z">then</time>')))
    lang_attr = F.when(F.col("doc_id") % 3 == 0, _L("")).otherwise(
        F.concat(_L(' lang="'), F.col("lang"), _L('"'))
    )
    robots_tag = F.when(
        F.col("doc_id") % 5 == 0, _L('<meta name="robots" content="noindex, nofollow">')
    ).otherwise(_L(""))
    html = F.concat(
        _L("<html"), lang_attr, _L('><head><meta charset="'), charset, _L('">'),
        _L('<meta property="og:title" content="Doc '), sid, _L('">'),
        robots_tag,
        desc_tag,
        _L('<link rel="canonical" href="https://corpus.example.org/canonical/'),
        sid, _L('">'),
        _L("</head><body><p>body</p>"), pub_tags, _L("</body></html>"),
    )
    meta = page_metadata(html)
    return docs.select(
        "doc_id", *(meta[name].alias(name) for name in sorted(meta))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_strip": q_extract_strip,
        "extract_main_content": q_extract_main_content,
        "doc_fields": q_doc_fields,
        "aggregate_fields": q_aggregate_fields,
        "lang_facet_counts": q_lang_facet_counts,
        "facet_primitives": q_facet_primitives,
        "facet_vocab_join": q_facet_vocab_join,
        "facet_labels": q_facet_labels,
        "chunk_text": q_chunk_text,
        "line_dedup": q_line_dedup,
        "substring_dedup": q_substring_dedup,
        "temperature_mix": q_temperature_mix,
        "link_extract": q_link_extract,
        "model_score": q_model_score,
        "corpus_report": q_corpus_report,
        "robots_filter": q_robots_filter,
        "solr_timestamp": q_solr_timestamp,
        "page_sequence": q_page_sequence,
        "dedup_exact": q_dedup_exact,
        "text_metrics": q_text_metrics,
        "near_dup_pairs": q_near_dup_pairs,
        "simhash": q_simhash,
        "dedup_clusters": q_dedup_clusters,
        "decontaminate": q_decontaminate,
        "scrub_normalize": q_scrub_normalize,
        "ann_topk": q_ann_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "multimodal": q_multimodal,
        "handles": q_handles,
        "curie": q_curie,
        "display_values": q_display_values,
        "iiif_identifier": q_iiif_identifier,
        "iiif_links": q_iiif_links,
        "atomic_diff": q_atomic_diff,
        "edtf_dates": q_edtf_dates,
        "url_filter": q_url_filter,
        "bpe_word_counts": q_bpe_word_counts,
        "pagerank": q_pagerank,
        "crawl_schedule": q_crawl_schedule,
        "lm_scores": q_lm_scores,
        "dedup_incremental": q_dedup_incremental,
        "sampling_quality": q_sampling_quality,
        "pack_sequences": q_pack_sequences,
        "index_build": q_index_build,
        "kmeans_clusters": q_kmeans_clusters,
        "semantic_dedup": q_semantic_dedup,
        "importance_resample": q_importance_resample,
        "html_metadata": q_html_metadata,
        "curate_chain": q_curate_chain,
        # bpe_tokens stays last per the standing rule that the most
        # exotic query goes at the END of this dict, so a harness
        # canonicalizer incompatibility can never shadow
        # oracle-checked queries that follow it in dict order
        "bpe_tokens": q_bpe_tokens,
    }


# --------------------------------------------------------------------------
# oracles (DuckDB SQL over the same parquet views)
# --------------------------------------------------------------------------

_LANG_CASE = (
    "CASE lang WHEN 'en' THEN 'English' WHEN 'de' THEN 'German' "
    "WHEN 'es' THEN 'Spanish' WHEN 'fr' THEN 'French' WHEN 'zh' THEN 'Chinese' "
    "ELSE lang END"
)

#: shared CTE: documents ∪ last-token-dropped near-dup copies, with
#: distinct word-trigram shingle sets (mirror of _with_near_dups +
#: dedup.word_shingles)
_SHINGLES_CTE = (
    "WITH toks AS (SELECT doc_id, str_split(text,' ') AS t FROM documents), "
    "u AS (SELECT doc_id, t FROM toks UNION ALL "
    "      SELECT doc_id+100000, list_slice(t,1,len(t)-1) FROM toks WHERE doc_id%5=0), "
    "sh AS (SELECT doc_id, CASE WHEN len(t)-2 <= 0 THEN [array_to_string(t,' ')] "
    "ELSE list_distinct(list_transform(generate_series(1,len(t)-2), "
    "i -> array_to_string(list_slice(t,i,i+2),' '))) END AS s FROM u) "
)


#: shared CTE: whitespace terms per document with tf + first position
#: (mirror of operators/indexing.doc_terms; posexplode parity via the
#: generate_series struct-unnest trick)
_DOC_TERMS_CTE = (
    "WITH s AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents), "
    "toks AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)), "
    "i -> {'pos': i - 1, 'term': w[i]})) AS t FROM s), "
    "terms AS (SELECT doc_id, t.term AS term, "
    "CAST(count(*) AS BIGINT) AS tf, CAST(min(t.pos) AS INT) AS first_pos "
    "FROM toks WHERE t.term <> '' GROUP BY doc_id, t.term) "
)


def _simhash32_terms() -> str:
    """32-bit SimHash expression over a token-array column ``t``:
    token hash = 60-bit md5 prefix, bit b set iff 2·hits_b > n."""
    hits = (
        "len(list_filter(t, x -> "
        "((('0x'||substr(md5(x),1,15))::UBIGINT >> {b}) & 1) = 1))"
    )
    return " + ".join(
        f"(CASE WHEN 2*{hits.format(b=b)} > len(t) THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(32)
    )


def _simhash32_sql() -> str:
    return (
        "SELECT doc_id, CAST(" + _simhash32_terms() + " AS BIGINT) AS simhash32 "
        "FROM (SELECT doc_id, str_split(text,' ') AS t FROM documents)"
    )


def _simhash_pairs_sql() -> str:
    """Exact hamming-≤3 pairs over the near-dup union — equal to the
    banded Spark output because the pigeonhole chunking has total
    recall at the threshold."""
    return (
        "WITH toks AS (SELECT doc_id, str_split(text,' ') AS t FROM documents), "
        "u AS (SELECT doc_id, t FROM toks UNION ALL "
        "      SELECT doc_id+100000, list_slice(t,1,len(t)-1) FROM toks WHERE doc_id%5=0), "
        f"s AS (SELECT doc_id, CAST({_simhash32_terms()} AS BIGINT) AS sh FROM u) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming "
        "FROM s a JOIN s b ON a.doc_id < b.doc_id "
        "WHERE bit_count(xor(a.sh, b.sh)) <= 3"
    )


def _hyperplane_sign_sql(j: int, d: int) -> int:
    import hashlib

    h = hashlib.md5(f"{j}_{d}".encode()).hexdigest()
    return 1 if ord(h[0]) % 2 == 0 else -1


def _cos_sql(qvec: list[float]) -> str:
    """cosine(embedding, qvec) with the exact left-fold term order the
    Spark expression uses (IEEE-double bit parity)."""
    dot = " + ".join(
        f"(CAST(embedding[{d+1}] AS DOUBLE) * ({qvec[d]!r}))" for d in range(len(qvec))
    )
    norm_e = " + ".join(
        f"(CAST(embedding[{d+1}] AS DOUBLE) * CAST(embedding[{d+1}] AS DOUBLE))"
        for d in range(len(qvec))
    )
    norm_q = " + ".join(f"(({qvec[d]!r}) * ({qvec[d]!r}))" for d in range(len(qvec)))
    return f"(({dot}) / (sqrt({norm_e}) * sqrt({norm_q})))"


def _kmeans_oracle_sql(dims: int = 64) -> str:
    """Assignment oracle from the persisted centroid table: cosine to
    every centroid with the exact left-fold term order of the Spark
    expressions (see _cos_sql), zero-norm guarded like
    similarity.cosine, argmax = max cosine then LOWEST cell (the
    strictly-greater fold of assign_ivf_cell)."""
    dot = " + ".join(
        f"(CAST(embedding[{d+1}] AS DOUBLE) * c[{d+1}])" for d in range(dims)
    )
    norm_e = " + ".join(
        f"(CAST(embedding[{d+1}] AS DOUBLE) * CAST(embedding[{d+1}] AS DOUBLE))"
        for d in range(dims)
    )
    norm_c = " + ".join(f"(c[{d+1}] * c[{d+1}])" for d in range(dims))
    denom = f"(sqrt({norm_e}) * sqrt({norm_c}))"
    cs = f"CASE WHEN {denom} <> 0 THEN (({dot}) / {denom}) ELSE 0.0 END"
    return (
        "WITH cent AS (SELECT cell, list(w ORDER BY pos) AS c FROM "
        f"read_parquet('{KMEANS_CENTROIDS_ORACLE_PATH}/*.parquet') GROUP BY cell), "
        f"sims AS (SELECT vec_id, cell, {cs} AS cs FROM embeddings CROSS JOIN cent), "
        "best AS (SELECT vec_id, cell, cs, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY cs DESC, cell ASC) AS rn FROM sims) "
        "SELECT vec_id, cell, round(cs, 6) AS cos_sim FROM best WHERE rn = 1"
    )


def _bucket_sql(n_bits: int, dims: int) -> str:
    """Hyperplane LSH bucket id (MSB-first packing, matching
    similarity.hyperplane_bucket's fold)."""
    bits = []
    for j in range(n_bits):
        proj = " + ".join(
            f"(CAST(embedding[{d+1}] AS DOUBLE) * ({_hyperplane_sign_sql(j, d)}))"
            for d in range(dims)
        )
        bits.append(f"(CASE WHEN ({proj}) > 0 THEN 1 ELSE 0 END)")
    packed = " + ".join(
        f"({bit} * {1 << (n_bits - 1 - j)})" for j, bit in enumerate(bits)
    )
    return f"({packed})"


def _query_bucket(qvec: list[float], n_bits: int) -> int:
    dims = len(qvec)
    out = 0
    for j in range(n_bits):
        proj = sum(_hyperplane_sign_sql(j, d) * qvec[d] for d in range(dims))
        out = out * 2 + (1 if proj > 0 else 0)
    return out


def _token_budget_sql() -> str:
    """token_budget_mix oracle, both modes: approx = the md5-parity
    hash-threshold rate min(1, target/tokens); exact = per-source
    running-sum cutoff with the same (hash, key) total order.
    Normalized weights are interpolated as Python ``repr`` so the SQL
    CASE carries the exact doubles Spark's ``F.lit`` embeds."""
    total_w = sum(w for w in _TOKEN_BUDGET_WEIGHTS.values() if w > 0)
    case = " ".join(
        f"WHEN '{s}' THEN ({(w / total_w)!r})"
        for s, w in sorted(_TOKEN_BUDGET_WEIGHTS.items())
    )
    src_list = ", ".join(f"'{s}'" for s in sorted(_TOKEN_BUDGET_WEIGHTS))
    hash60 = (
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'tb'), 1, 15))"
        "::UBIGINT % 1000000"
    )
    return (
        "WITH t AS (SELECT doc_id, source, "
        "CAST(len(str_split(text, ' ')) AS BIGINT) AS toks, "
        f"{hash60} AS hb FROM documents), "
        "s AS (SELECT source, SUM(toks) AS stok FROM t GROUP BY source), "
        f"tw AS (SELECT source, stok, CAST(floor((CASE source {case} END) "
        f"* {_TOKEN_BUDGET}) AS BIGINT) AS target FROM s "
        f"WHERE source IN ({src_list})), "
        "r AS (SELECT source, target, CAST(floor(least(1.0, target / stok) "
        "* 1000000) AS BIGINT) AS cut FROM tw), "
        "approx AS (SELECT 'budget_approx' AS stage, t.doc_id, t.source, "
        "t.toks, r.target FROM t JOIN r USING (source) WHERE t.hb < r.cut), "
        "cum AS (SELECT t.doc_id, t.source, t.toks, tw.target, "
        "SUM(t.toks) OVER (PARTITION BY t.source "
        "ORDER BY t.hb, CAST(t.doc_id AS VARCHAR)) AS c "
        "FROM t JOIN tw USING (source)), "
        "exact AS (SELECT 'budget_exact' AS stage, doc_id, source, toks, "
        "target FROM cum WHERE c - toks < target) "
        "SELECT * FROM approx UNION ALL SELECT * FROM exact"
    )


def _pq_oracle_sql() -> str:
    """IVF-PQ leg oracle from the persisted side tables: re-derive
    every vector's PQ code from the codebook doubles (per-subspace
    L2 argmin with the exact ``|c|² − 2·x·c`` left-fold term order of
    similarity._pq_dists; ties → lowest cell, matching the
    first-minimal array_position), sum the INTEGER LUT over the code
    (order-free — no float-fold discipline needed), shortlist the 64
    best by (adist, vec_id), exact-cosine re-rank to top-10."""
    ds = 64 // _PQ_M
    normc = " + ".join(f"(c[{p+1}] * c[{p+1}])" for p in range(ds))
    dotc = " + ".join(
        f"(CAST(embedding[(sub * {ds}) + {p+1}] AS DOUBLE) * c[{p+1}])"
        for p in range(ds)
    )
    d_expr = f"(({normc}) - (2.0 * ({dotc})))"
    return (
        "WITH cb AS (SELECT sub, cell, list(w ORDER BY pos) AS c FROM "
        f"read_parquet('{PQ_CODEBOOK_ORACLE_PATH}/*.parquet') GROUP BY sub, cell), "
        f"pdists AS (SELECT vec_id, sub, cell, {d_expr} AS d "
        "FROM embeddings CROSS JOIN cb), "
        "codes AS (SELECT vec_id, sub, cell FROM (SELECT vec_id, sub, cell, "
        "row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, cell ASC) "
        "AS rn FROM pdists) WHERE rn = 1), "
        "adist AS (SELECT codes.vec_id, SUM(l.lutq) AS a FROM codes "
        f"JOIN read_parquet('{PQ_LUT_ORACLE_PATH}/*.parquet') l "
        "USING (sub, cell) GROUP BY codes.vec_id), "
        "short AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER "
        "(ORDER BY a ASC, vec_id ASC) AS rn FROM adist) WHERE rn <= 64) "
        f"SELECT vec_id, round({_cos_sql(_QUERY_VEC)}, 6) AS cos_sim "
        "FROM embeddings JOIN short USING (vec_id) "
        "ORDER BY cos_sim DESC, vec_id LIMIT 10"
    )


def _ivf_oracle_sql() -> str:
    """IVF top-k oracle: per-row cosines to every centroid (same
    left-fold term order as the Spark expressions), argmax cell with
    the same strict-> fold, probe-cell filter, exact top-k."""
    import math

    def pycos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    order = sorted(
        range(len(_IVF_CENTROIDS)),
        key=lambda i: (-pycos(_QUERY_VEC, _IVF_CENTROIDS[i]), i),
    )
    probe = order[:2]
    cos_cols = ", ".join(
        f"{_cos_sql(c)} AS cos_{j}" for j, c in enumerate(_IVF_CENTROIDS)
    )
    cell_expr = "0"
    best_expr = "cos_0"
    for j in range(1, len(_IVF_CENTROIDS)):
        cell_expr = f"(CASE WHEN cos_{j} > {best_expr} THEN {j} ELSE {cell_expr} END)"
        best_expr = f"(CASE WHEN cos_{j} > {best_expr} THEN cos_{j} ELSE {best_expr} END)"
    return (
        f"SELECT vec_id, round({_cos_sql(_QUERY_VEC)}, 6) AS cos_sim "
        f"FROM (SELECT vec_id, embedding, {cell_expr} AS cell FROM "
        f"(SELECT vec_id, embedding, {cos_cols} FROM embeddings)) "
        f"WHERE cell IN ({', '.join(str(p) for p in probe)}) "
        "ORDER BY cos_sim DESC, vec_id LIMIT 10"
    )


#: DuckDB quality-score expression over (text, t=tokens, n=len(t)) —
#: shared by the quality_score / corpus_stats / quality_topk oracles
_QUALITY_EXPR = (
    "round(((CASE WHEN n >= 10 AND n <= 100000 THEN 1.0 ELSE 0.0 END)"
    " + (CASE WHEN CAST(length(text) AS DOUBLE)/n >= 3.0 "
    "        AND CAST(length(text) AS DOUBLE)/n <= 12.0 THEN 1.0 ELSE 0.0 END)"
    " + (CASE WHEN CAST(length(text) - length(regexp_replace(text,"
    " '[^\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE)/length(text) <= 0.2"
    "        THEN 1.0 ELSE 0.0 END)"
    " + (CASE WHEN CAST(len(list_filter(t, x -> x IN "
    "('the','a','and','of','to','in','is','it','that','for'))) AS DOUBLE)/n"
    "        >= 0.01 THEN 1.0 ELSE 0.5 END)) / 4.0, 4)"
)


def _pii_scrub_sql() -> str:
    """Exact-parity PII oracle: same injection, same regexes (the
    pattern subset evaluates identically under Java regex and RE2)."""
    from solrizer_spark.functions.scrub import EMAIL_RE, IPV4_RE, PHONE_RE

    inject = (
        "text || ' Contact user' || doc_id || '@ex' || (doc_id%9) || '.com at 10.0.' "
        "|| (doc_id%256) || '.' || (doc_id%100) || ' or 555-' "
        "|| lpad(CAST(doc_id%1000 AS VARCHAR),3,'0') || '-' "
        "|| lpad(CAST(doc_id*7%10000 AS VARCHAR),4,'0') || ' now'"
    )
    return (
        "WITH b AS (SELECT doc_id, CASE WHEN doc_id%4=3 THEN text "
        f"ELSE {inject} END AS t FROM documents) "
        "SELECT doc_id, "
        f"regexp_replace(regexp_replace(regexp_replace(t, '{EMAIL_RE}', '[EMAIL]', 'g'), "
        f"'{IPV4_RE}', '[IP]', 'g'), '{PHONE_RE}', '[PHONE]', 'g') AS scrubbed, "
        f"len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_emails, "
        f"len(regexp_extract_all(t, '{IPV4_RE}')) AS n_ips, "
        f"len(regexp_extract_all(t, '{PHONE_RE}')) AS n_phones "
        "FROM b"
    )


def _facet_vocab_join_sql() -> str:
    """Facet-count oracle built from the same RIGHTS_VOCAB dim the
    Spark faceter broadcasts (label when known, URI fallback)."""
    from solrizer_spark.functions.faceters import RIGHTS_VOCAB

    whens = " ".join(
        f"WHEN {i} THEN '{label}'" for i, (_, label) in enumerate(RIGHTS_VOCAB)
    )
    return (
        "SELECT rights_facet, count(*) AS n_docs FROM ("
        f"SELECT CASE doc_id%7 {whens} "
        "ELSE 'http://example.org/unknown-rights/' || (doc_id%3) END AS rights_facet "
        "FROM documents) GROUP BY 1"
    )


def _langid_sql() -> str:
    """Sequential-fold argmax over stopword-profile ratios, mirroring
    text_stats.langid (iteration order = sorted codes, strict > wins)."""
    from solrizer_spark.functions.text_stats import STOPWORD_PROFILES

    codes = sorted(STOPWORD_PROFILES)
    ratios = ", ".join(
        "CAST(len(list_filter(t, x -> x IN ({words}))) AS DOUBLE)/len(t) AS r_{c}".format(
            words=", ".join(f"'{w}'" for w in STOPWORD_PROFILES[c]), c=c
        )
        for c in codes
    )
    # fold: best starts at codes[0]; each later code wins on strict >
    lang_expr = f"'{codes[0]}'"
    score_expr = f"r_{codes[0]}"
    for c in codes[1:]:
        lang_expr = f"(CASE WHEN r_{c} > {score_expr} THEN '{c}' ELSE {lang_expr} END)"
        score_expr = f"(CASE WHEN r_{c} > {score_expr} THEN r_{c} ELSE {score_expr} END)"
    return (
        f"SELECT doc_id, (CASE WHEN {score_expr} > 0 THEN {lang_expr} ELSE 'und' END) AS lang_pred "
        f"FROM (SELECT doc_id, {ratios} FROM "
        "(SELECT doc_id, str_split(text,' ') AS t FROM documents))"
    )


def _semdedup_oracle_sql(dims: int = 64, tau: float = 0.99) -> str:
    """SemDeDup oracle: re-derive cell assignment from the persisted
    centroid table (same argmax as _kmeans_oracle_sql), L2-normalize
    each vector ONCE (the operator pre-normalizes before its pair
    join — same guard, same fold order), then flag the higher vec_id
    of every within-cell pair with round(dot-of-units, 6) ≥ tau."""
    dot = " + ".join(
        f"(CAST(embedding[{d+1}] AS DOUBLE) * c[{d+1}])" for d in range(dims)
    )
    norm_e = " + ".join(
        f"(CAST(embedding[{d+1}] AS DOUBLE) * CAST(embedding[{d+1}] AS DOUBLE))"
        for d in range(dims)
    )
    norm_c = " + ".join(f"(c[{d+1}] * c[{d+1}])" for d in range(dims))
    denom = f"(sqrt({norm_e}) * sqrt({norm_c}))"
    cs = f"CASE WHEN {denom} <> 0 THEN (({dot}) / {denom}) ELSE 0.0 END"
    unit = (
        f"CASE WHEN sqrt({norm_e}) <> 0 THEN "
        f"list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt({norm_e})) "
        "ELSE list_transform(embedding, x -> 0.0) END"
    )
    pair_dot = " + ".join(f"(a.u[{d+1}] * b.u[{d+1}])" for d in range(dims))
    return (
        "WITH cent AS (SELECT cell, list(w ORDER BY pos) AS c FROM "
        f"read_parquet('{SEMDEDUP_CENTROIDS_ORACLE_PATH}/*.parquet') GROUP BY cell), "
        "base AS (SELECT vec_id, embedding FROM embeddings "
        "UNION ALL SELECT vec_id + 100000 AS vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.001) AS embedding "
        "FROM embeddings WHERE vec_id % 10 = 0), "
        f"sims AS (SELECT vec_id, embedding, cell, {cs} AS cs "
        "FROM base CROSS JOIN cent), "
        "best AS (SELECT vec_id, embedding, cell, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY cs DESC, cell ASC) AS rn FROM sims), "
        f"asg AS (SELECT vec_id, cell, {unit} AS u FROM best WHERE rn = 1), "
        "dups AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b "
        "ON a.cell = b.cell AND a.vec_id < b.vec_id "
        f"WHERE round(({pair_dot}), 6) >= {tau}) "
        "SELECT a.vec_id, a.cell, (d.vec_id IS NOT NULL) AS semantic_dup "
        "FROM asg a LEFT JOIN dups d ON a.vec_id = d.vec_id"
    )


def _dsir_oracle_sql() -> str:
    """DSIR oracle: every doc's weight recomputed from the persisted
    integer log-ratio table — md5-parity feature hash, exact integer
    sums, same LEFT-JOIN zero-weight semantics and top-k tie-break as
    dsir_importance_weights."""
    return (
        "WITH ratios AS (SELECT f, qlog FROM "
        f"read_parquet('{DSIR_RATIOS_ORACLE_PATH}/*.parquet')), "
        "feats AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), "
        "'[a-z]+')) AS w FROM documents), "
        "fh AS (SELECT doc_id, CAST(('0x'||substr(md5(w),1,15))::UBIGINT "
        f"% {DSIR_BUCKETS} AS INT) AS f FROM feats), "
        "wsum AS (SELECT fh.doc_id, SUM(r.qlog) AS weight "
        "FROM fh JOIN ratios r USING (f) GROUP BY fh.doc_id), "
        "w AS (SELECT d.doc_id, CAST(COALESCE(wsum.weight, 0) AS BIGINT) "
        "AS weight FROM documents d LEFT JOIN wsum ON d.doc_id = wsum.doc_id), "
        "sel AS (SELECT doc_id FROM w ORDER BY weight DESC, doc_id ASC "
        f"LIMIT {DSIR_TOP_K}) "
        "SELECT w.doc_id, w.weight, (s.doc_id IS NOT NULL) AS selected "
        "FROM w LEFT JOIN sel s ON w.doc_id = s.doc_id"
    )


def oracle_sql() -> dict[str, str]:
    base = _component_oracle_sql()
    return _compose_oracles(base)


def _component_oracle_sql() -> dict[str, str]:
    return {
        "extract_strip": (
            "SELECT doc_id, 'Doc ' || doc_id || text AS extracted_text FROM documents"
        ),
        "extract_main_content": (
            "SELECT doc_id, "
            "'Doc ' || doc_id || chr(10) || 'Section ' || (doc_id % 7) "
            "|| chr(10) || text AS extracted_text, "
            "3 AS blocks_kept, 3 AS blocks_dropped, "
            "'1:Doc ' || doc_id || '|2:Section ' || (doc_id % 7) "
            "AS outline_str, 2 AS n_headings FROM documents"
        ),
        "doc_fields": (
            "SELECT doc_id, 'html' AS content_model, "
            f"{_LANG_CASE} AS language_facet, "
            "strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id), "
            "'%Y-%m-%dT%H:%M:%SZ') AS warc_ts__time, "
            "true AS is_published, false AS is_hidden, true AS is_top_level, "
            "true AS is_discoverable FROM documents"
        ),
        "aggregate_fields": (
            "SELECT doc_id, "
            "'Doc ' || doc_id || '|' || text || '|' || text AS text_joined, "
            "'https://corpus.example.org/doc/' || doc_id || '|' "
            "|| 'https://corpus.example.org/doc/' || doc_id || '|' "
            "|| 'https://corpus.example.org/doc/' || doc_id || '|' "
            "|| 'https://corpus.example.org/doc/' || doc_id || '#block-2' AS ident_joined "
            "FROM documents"
        ),
        "lang_facet_counts": (
            f"SELECT {_LANG_CASE} AS language_facet, count(*) AS n_docs "
            "FROM documents GROUP BY 1"
        ),
        "facet_primitives": (
            "SELECT doc_id, "
            "CASE doc_id%4 WHEN 0 THEN 'Yes' WHEN 1 THEN 'No' ELSE NULL END AS censorship, "
            "CASE WHEN doc_id%7=0 THEN 'Photograph' "
            "ELSE 'Genre ' || (doc_id%5) END AS resource_type, "
            "CASE WHEN doc_id%2=0 THEN 'Published' ELSE 'Unpublished' END AS publication_status, "
            "CASE WHEN doc_id%3=0 THEN 'Hidden' ELSE 'Visible' END AS visibility, "
            "'pcdm:Object' || CASE WHEN doc_id%2=0 THEN '|umdaccess:Published' ELSE '' END "
            "|| CASE WHEN doc_id%3=0 THEN '|umdaccess:Hidden' ELSE '' END AS rdf_type "
            "FROM documents"
        ),
        "facet_vocab_join": _facet_vocab_join_sql(),
        # robots_filter: host{m}.example.com; disallowed = host0 with
        # /private/ or /tmp/; host1 with /private/ EXCEPT doc_ids
        # starting with '1' (longer Allow /private/1* wins — host1's
        # private ids are doc_id%20==5, so both allowed and blocked
        # ids occur and the Allow arm is non-vacuous); host2 open;
        # host3 via wildcards: /art*les/ blocks /articles/, /tmp/*3$
        # blocks /tmp/ urls whose trailing doc_id ends in 3
        "robots_filter": (
            "SELECT doc_id, url FROM ("
            "SELECT doc_id, doc_id % 4 AS m, "
            "CASE WHEN doc_id % 5 = 0 THEN '/private/' "
            "WHEN doc_id % 5 = 1 THEN '/tmp/' ELSE '/articles/' END AS sect, "
            "'https://host' || (doc_id % 4) || '.example.com' || "
            "CASE WHEN doc_id % 5 = 0 THEN '/private/' "
            "WHEN doc_id % 5 = 1 THEN '/tmp/' ELSE '/articles/' END "
            "|| doc_id AS url FROM documents) "
            "WHERE NOT ((m = 0 AND sect IN ('/private/', '/tmp/')) "
            "OR (m = 1 AND sect = '/private/' "
            "    AND CAST(doc_id AS VARCHAR) NOT LIKE '1%') "
            "OR (m = 3 AND sect = '/articles/') "
            "OR (m = 3 AND sect = '/tmp/' AND doc_id % 10 = 3))"
        ),
        # domain_stats: the oracle states each url's eTLD+1 directly
        # from doc_id arithmetic (site{m}.co.uk keeps 3 labels)
        "domain_stats": (
            "SELECT domain, count(*) AS n_docs, "
            "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens, "
            "round(avg(length(text)), 4) AS mean_chars FROM ("
            "SELECT text, CASE doc_id % 3 "
            "WHEN 0 THEN 'site' || (doc_id % 6) || '.co.uk' "
            "WHEN 1 THEN 'example' || (doc_id % 6) || '.com' "
            "ELSE 'assets' || (doc_id % 6) || '.org' END AS domain "
            "FROM documents) GROUP BY domain"
        ),
        # media_features: payload string rebuilt, md5-prefix per (asset, dim)
        "media_features": (
            "SELECT doc_id AS asset_id, CAST(u.j AS BIGINT) AS dim_idx, "
            "CAST(('0x' || substr(md5(p || ':' || u.j), 1, 15))::UBIGINT % 1000 "
            "AS DOUBLE) / 1000.0 AS value FROM ("
            "SELECT doc_id, 'IMG1' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 6, '0') "
            "|| lpad(CAST((doc_id * 7) % 900 + 100 AS VARCHAR), 6, '0') || '3' || text AS p "
            "FROM documents), unnest(list_transform(generate_series(0, 7), "
            "j -> {'j': j})) AS t(u)"
        ),
        # model_score: weight per token bucket re-derived arithmetically
        "model_score": (
            "SELECT doc_id, round(0.25 + sum(w), 6) AS score FROM ("
            "SELECT doc_id, "
            "(CAST((('0x' || substr(md5(t), 1, 15))::UBIGINT % 256) * 37 AS BIGINT) "
            "% 101 - 50) / 100.0 AS w "
            "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t "
            "FROM documents)) GROUP BY doc_id"
        ),
        # outlinks: the expected hrefs/domains are stated directly (the
        # oracle does not replay the regex), doubles before singles
        "outlinks": (
            "SELECT doc_id, "
            "'/|https://ex' || m || '.co.uk/p?id=' || doc_id || "
            "'|https://site' || m || '.com/q|/about' AS links, "
            "CAST(4 AS BIGINT) AS n_links, "
            "'ex' || m || '.co.uk|site' || m || '.com' AS domains "
            "FROM (SELECT doc_id, CAST(doc_id % 9 AS VARCHAR) AS m FROM documents)"
        ),
        # temperature_mix: T=0.5 -> per-source keep rate
        # (c_s/c_min)^-0.5, thresholded on the md5-60bit key hash
        # (same hash as stratified_sample's oracle)
        "temperature_mix": (
            "WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang), "
            "r AS (SELECT lang, CAST(floor(least(1.0, "
            "pow(n::DOUBLE / (SELECT min(n) FROM c), -0.5)) * 1000000) AS BIGINT) "
            "AS cut FROM c) "
            "SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang) "
            "WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'mix'), 1, 15))"
            "::UBIGINT % 1000000 < cut"
        ),
        "line_dedup": (
            "WITH d AS (SELECT doc_id, 'SHARED COOKIE BANNER' || chr(10) || text "
            "|| chr(10) || 'footer-' || CAST(doc_id % 7 AS VARCHAR) || chr(10) || "
            "'ALL RIGHTS RESERVED' AS t FROM documents), "
            "e AS (SELECT doc_id, u.idx AS idx, u.line AS line FROM ("
            "SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)), "
            "i -> {'idx': i, 'line': ls[i]})) AS u "
            "FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d))), "
            "c AS (SELECT line, count(*) AS n FROM e GROUP BY line) "
            "SELECT doc_id, "
            "coalesce(string_agg(CASE WHEN n < 3 THEN line END, chr(10) ORDER BY idx), '') AS cleaned_text, "
            "CAST(count(CASE WHEN n < 3 THEN 1 END) AS BIGINT) AS n_lines_kept, "
            "CAST(count(CASE WHEN n >= 3 THEN 1 END) AS BIGINT) AS n_lines_dropped "
            "FROM e JOIN c USING (line) GROUP BY doc_id"
        ),
        # substring_dedup: span hash is the shared 60-bit md5 idiom so
        # the two engines hash windows identically; keeper = global
        # (doc_id, span_start) minimum, expressed here as rn=1 over an
        # independent window instead of the engine's min(struct) fold
        "substring_dedup": (
            "WITH d AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN "
            "'juliet kilo lima mike november oscar papa quebec romeo sierra "
            "tango uniform' || ' ' || text ELSE text END AS text FROM documents), "
            "tt AS (SELECT doc_id, string_split(text, ' ') AS tk FROM d "
            "WHERE text IS NOT NULL), "
            "sp AS (SELECT doc_id, i AS span_start, "
            "CAST(('0x'||substr(md5(array_to_string(tk[i:i+7],' ')),1,15))"
            "::UBIGINT AS BIGINT) AS h "
            "FROM (SELECT doc_id, tk, unnest(range(1, len(tk)-6)) AS i FROM tt)), "
            "mk AS (SELECT doc_id, span_start, "
            "count(*) OVER (PARTITION BY h) AS n_occ, "
            "row_number() OVER (PARTITION BY h ORDER BY doc_id, span_start) AS rn "
            "FROM sp), "
            "fl AS (SELECT * FROM mk WHERE n_occ >= 2), "
            "pds AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans, "
            "CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_keeper_spans "
            "FROM fl GROUP BY doc_id), "
            "cov AS (SELECT DISTINCT doc_id, idx FROM (SELECT doc_id, "
            "unnest(range(span_start, span_start + 8)) AS idx FROM fl WHERE rn <> 1)), "
            "tok AS (SELECT doc_id, i AS idx, tk[i] AS tok "
            "FROM (SELECT doc_id, tk, unnest(range(1, len(tk)+1)) AS i FROM tt)), "
            "kept AS (SELECT t.doc_id, t.idx, t.tok FROM tok t LEFT JOIN cov c "
            "ON t.doc_id = c.doc_id AND t.idx = c.idx WHERE c.idx IS NULL), "
            "pdr AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS ct, "
            "CAST(count(*) AS BIGINT) AS nk FROM kept GROUP BY doc_id), "
            "tot AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_total FROM tt) "
            "SELECT d.doc_id, "
            "CAST(coalesce(pds.n_dup_spans, 0) AS BIGINT) AS n_dup_spans, "
            "CAST(coalesce(pds.n_keeper_spans, 0) AS BIGINT) AS n_keeper_spans, "
            "CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(pdr.ct, '') END "
            "AS cleaned_text, "
            "CAST(CASE WHEN d.text IS NULL THEN 0 ELSE coalesce(pdr.nk, 0) END "
            "AS BIGINT) AS n_tokens_kept, "
            "CAST(CASE WHEN d.text IS NULL THEN 0 ELSE "
            "tot.n_total - coalesce(pdr.nk, 0) END AS BIGINT) AS n_tokens_dropped "
            "FROM d LEFT JOIN pds USING (doc_id) LEFT JOIN pdr USING (doc_id) "
            "LEFT JOIN tot USING (doc_id)"
        ),
        # chunk_text: step=24 (32-token chunks, 8 overlap); duckdb list
        # slice is 1-based inclusive and truncates past the end, same
        # as Spark's slice(arr, start, length)
        "chunk_text": (
            "SELECT doc_id, CAST(u.idx AS BIGINT) AS chunk_index, "
            "u.chunk AS chunk, CAST(u.nt AS BIGINT) AS chunk_n_tokens FROM ("
            "SELECT doc_id, unnest(list_transform(generate_series(0, k - 1), "
            "i -> {'idx': i, "
            "'chunk': array_to_string(tk[i*24+1 : i*24+32], ' '), "
            "'nt': len(tk[i*24+1 : i*24+32])})) AS u "
            "FROM (SELECT doc_id, tk, CASE WHEN len(tk) <= 32 THEN 1 "
            "ELSE (len(tk) - 32 + 23) // 24 + 1 END AS k "
            "FROM (SELECT doc_id, string_split(text, ' ') AS tk "
            "FROM documents WHERE text IS NOT NULL)))"
        ),
        # facet_labels: tokens are 1-based in both engines; list_sort /
        # array_sort both use binary string order; the oracle states the
        # expected concatenation directly instead of replaying the
        # struct-transform, so the two computations are independent
        "facet_labels": (
            "WITH s AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), "
            "t AS (SELECT doc_id, "
            "coalesce(tk[1], 'tok1') AS t1, coalesce(tk[2], 'tok2') AS t2, "
            "coalesce(tk[3], 'tok3') AS t3, coalesce(tk[4], 'tok4') AS t4, "
            "coalesce(tk[5], 'tok5') AS t5, coalesce(tk[6], 'tok6') AS t6, "
            "coalesce(tk[7], 'tok7') AS t7 FROM s) "
            "SELECT doc_id, "
            "array_to_string(list_sort([t2, t1]), ' / ') || '|' || t3 AS contributor, "
            "array_to_string(list_sort([t7, t3]), ' / ') AS creator, "
            "array_to_string(list_sort([t4, t1]), ' / ') AS publisher, "
            "array_to_string(list_sort([t5, t2]), ' / ') AS subject, "
            "array_to_string(list_sort([t1, t6]), ' / ') AS location, "
            "CAST(NULL AS VARCHAR) AS presentation_set, "
            "'archive-' || CAST(doc_id % 5 AS VARCHAR) AS archival_collection "
            "FROM t"
        ),
        "solr_timestamp": (
            "SELECT event_id, "
            "CASE WHEN extract(microsecond FROM ts) % 1000000 = 0 "
            "THEN strftime(ts, '%Y-%m-%dT%H:%M:%SZ') "
            "ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S') || '.' "
            "|| lpad(CAST(extract(microsecond FROM ts) % 1000000 AS VARCHAR), 6, '0') || 'Z' "
            "END AS ts_solr, "
            "CASE WHEN extract(microsecond FROM ts2) % 1000000 = 0 "
            "THEN strftime(ts2, '%Y-%m-%dT%H:%M:%SZ') "
            "ELSE strftime(ts2, '%Y-%m-%dT%H:%M:%S') || '.' "
            "|| lpad(CAST(extract(microsecond FROM ts2) % 1000000 AS VARCHAR), 6, '0') || 'Z' "
            "END AS ts_solr_micro "
            "FROM (SELECT event_id, ts, "
            "ts + to_microseconds(event_id % 1500 * 667) AS ts2 FROM events)"
        ),
        "page_sequence": (
            "SELECT l_orderkey, count(*) AS page_count, "
            "string_agg(CAST(qty AS VARCHAR), ' ' ORDER BY l_linenumber, qty) AS page_text, "
            "string_agg(coalesce(title, '[Page ' || pos || ']'), '|' "
            "ORDER BY l_linenumber, qty, title) AS page_labels "
            "FROM (SELECT l_orderkey, l_linenumber, qty, title, "
            "row_number() OVER (PARTITION BY l_orderkey "
            "ORDER BY l_linenumber, qty, title) AS pos "
            "FROM (SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INT) AS qty, "
            "CASE WHEN l_linenumber%2=1 THEN 'T-' || l_returnflag || l_linestatus END AS title "
            "FROM lineitem)) GROUP BY l_orderkey"
        ),
        "dedup_exact": (
            "SELECT md5(text) AS text_hash, count(*) AS n_copies FROM ("
            "SELECT doc_id, text FROM documents UNION ALL "
            "SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0"
            ") GROUP BY 1"
        ),
        "text_stats": (
            "SELECT doc_id, "
            "len(str_split(text, ' ')) AS n_tokens, "
            "length(text) AS n_chars, "
            "round(list_sum(list_transform(str_split(text, ' '), t -> length(t)))"
            " / len(str_split(text, ' ')), 4) AS avg_token_len, "
            "round(len(list_filter(str_split(text, ' '), t -> t IN ('the','a')))"
            " / len(str_split(text, ' ')), 4) AS stopword_ratio "
            "FROM documents"
        ),
        # dedup_incremental: survivors re-derived with TRUE Jaccard
        # against every base doc (cross join at sf0.01 — no LSH), so
        # the banded path's recall is itself under test
        "dedup_incremental": (
            "WITH toks AS (SELECT doc_id, str_split(text,' ') AS t FROM documents), "
            "newb AS (SELECT doc_id+100000 AS doc_id, "
            "  CASE WHEN doc_id%5=0 THEN array_to_string(list_slice(t,1,len(t)-1),' ') "
            "       WHEN doc_id%7=0 THEN array_to_string(t,' ') "
            "       ELSE array_to_string(list_transform(generate_series(1,8), "
            "            j -> 'w'||doc_id||'x'||j), ' ') END AS text FROM toks), "
            "exact_dup AS (SELECT DISTINCT n.doc_id FROM newb n "
            "  JOIN documents b ON n.text = b.text), "
            "shn AS (SELECT doc_id, CASE WHEN len(str_split(text,' '))-2 <= 0 "
            "  THEN [text] ELSE list_distinct(list_transform("
            "    generate_series(1,len(str_split(text,' '))-2), "
            "    i -> array_to_string(list_slice(str_split(text,' '),i,i+2),' '))) "
            "  END AS s FROM newb WHERE doc_id NOT IN (SELECT doc_id FROM exact_dup)), "
            "shb AS (SELECT doc_id, CASE WHEN len(t)-2 <= 0 "
            "  THEN [array_to_string(t,' ')] ELSE list_distinct(list_transform("
            "    generate_series(1,len(t)-2), "
            "    i -> array_to_string(list_slice(t,i,i+2),' '))) END AS s FROM toks), "
            "near_dup AS (SELECT DISTINCT n.doc_id FROM shn n JOIN shb b ON "
            "  CAST(len(list_intersect(n.s,b.s)) AS DOUBLE)"
            "  /len(list_distinct(list_cat(n.s,b.s))) >= 0.8) "
            "SELECT doc_id, text FROM newb "
            "WHERE doc_id NOT IN (SELECT doc_id FROM exact_dup) "
            "  AND doc_id NOT IN (SELECT doc_id FROM near_dup)"
        ),
        "dedup_minhash_lsh": (
            _SHINGLES_CTE
            + "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "round(CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)"
            "/len(list_distinct(list_cat(a.s,b.s))), 6) AS jaccard_sim "
            "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
            "WHERE CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)"
            "/len(list_distinct(list_cat(a.s,b.s))) >= 0.8"
        ),
        "dedup_ngram_jaccard": (
            _SHINGLES_CTE
            + "SELECT o.doc_id AS doc_id, "
            "round(CAST(len(list_intersect(o.s,c.s)) AS DOUBLE)"
            "/len(list_distinct(list_cat(o.s,c.s))), 6) AS jaccard_sim "
            "FROM sh o JOIN sh c ON c.doc_id = o.doc_id + 100000"
        ),
        "pii_scrub": _pii_scrub_sql(),
        "text_normalize": (
            "SELECT doc_id, text || ' trailing' AS normalized FROM documents"
        ),
        "decontaminate": (
            "WITH t AS (SELECT doc_id, str_split(text,' ') AS tk FROM documents), "
            "bt AS (SELECT str_split(array_to_string(list_slice(tk,3,14),' '),' ') AS tk "
            "FROM t WHERE doc_id%50=0), "
            "bg AS (SELECT DISTINCT unnest(CASE WHEN len(tk)-7 <= 0 "
            "THEN [array_to_string(tk,' ')] "
            "ELSE list_distinct(list_transform(generate_series(1,len(tk)-7), "
            "i -> array_to_string(list_slice(tk,i,i+7),' '))) END) AS g FROM bt), "
            "bga AS (SELECT list(g) AS gs FROM bg), "
            "dg AS (SELECT doc_id, CASE WHEN len(tk)-7 <= 0 "
            "THEN [array_to_string(tk,' ')] "
            "ELSE list_distinct(list_transform(generate_series(1,len(tk)-7), "
            "i -> array_to_string(list_slice(tk,i,i+7),' '))) END AS grams FROM t) "
            "SELECT doc_id, CAST(len(list_intersect(grams, gs)) AS BIGINT) AS n_matched, "
            "len(list_intersect(grams, gs)) > 0 AS contaminated FROM dg, bga"
        ),
        "dedup_clusters": (
            "WITH RECURSIVE e AS ("
            "SELECT doc_id AS a, doc_id+1 AS b FROM documents WHERE doc_id%16 < 4 "
            "UNION ALL "
            "SELECT doc_id, doc_id+2 FROM documents WHERE doc_id%16 IN (8,9)), "
            "sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e), "
            "nodes AS (SELECT DISTINCT a AS id FROM sym), "
            "reach(id, r) AS ("
            "SELECT id, id FROM nodes "
            "UNION "
            "SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id) "
            "SELECT id, min(r) AS component FROM reach GROUP BY id"
        ),
        "dedup_simhash": _simhash32_sql(),
        "dedup_simhash_pairs": _simhash_pairs_sql(),
        "ann_bruteforce": (
            f"SELECT vec_id, round({_cos_sql(_QUERY_VEC)}, 6) AS cos_sim "
            "FROM embeddings ORDER BY cos_sim DESC, vec_id LIMIT 10"
        ),
        "ann_lsh": (
            f"SELECT vec_id, round({_cos_sql(_QUERY_VEC)}, 6) AS cos_sim "
            f"FROM embeddings WHERE {_bucket_sql(8, 64)} = {_query_bucket(_QUERY_VEC, 8)} "
            "ORDER BY cos_sim DESC, vec_id LIMIT 10"
        ),
        "embedding_near_dup": (
            "SELECT vec_id AS id_a, vec_id + 100000 AS id_b, 1.0 AS cos_sim "
            "FROM embeddings WHERE vec_id % 10 = 0"
        ),
        "langid": _langid_sql(),
        "quality_score": (
            "SELECT doc_id, "
            "round(("
            " (CASE WHEN n >= 10 AND n <= 100000 THEN 1.0 ELSE 0.0 END)"
            " + (CASE WHEN CAST(length(text) AS DOUBLE)/n >= 3.0 "
            "        AND CAST(length(text) AS DOUBLE)/n <= 12.0 THEN 1.0 ELSE 0.0 END)"
            " + (CASE WHEN CAST(length(text) - length(regexp_replace(text,"
            " '[^\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE)/length(text) <= 0.2"
            "        THEN 1.0 ELSE 0.0 END)"
            " + (CASE WHEN CAST(len(list_filter(t, x -> x IN "
            "('the','a','and','of','to','in','is','it','that','for'))) AS DOUBLE)/n"
            "        >= 0.01 THEN 1.0 ELSE 0.5 END)"
            ") / 4.0, 4) AS quality, "
            "CAST(list_sum(list_transform(t, x -> CAST(ceil(length(x)/4.0) AS BIGINT)))"
            " AS BIGINT) AS subword_tokens "
            "FROM (SELECT doc_id, text, str_split(text,' ') AS t,"
            " len(str_split(text,' ')) AS n FROM documents)"
        ),
        "fingerprint": (
            "SELECT doc_id, CAST(list_reduce("
            "list_prepend('0', string_split(text,'')), "
            "(a,b) -> CAST((CAST(a AS BIGINT)*131 + ascii(b)) % 2147483647 AS VARCHAR)"
            ") AS BIGINT) AS fingerprint FROM documents"
        ),
        "multimodal_meta": (
            "SELECT doc_id AS asset_id, 'image' AS kind, "
            "CAST(doc_id % 900 + 100 AS INT) AS width, "
            "CAST((doc_id * 7) % 900 + 100 AS INT) AS height, "
            "3 AS channels, "
            "CAST(17 + octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes, "
            "true AS valid FROM documents"
        ),
        "frame_sample": (
            "SELECT doc_id AS asset_id, CAST(f AS INT) AS frame_index, "
            "md5('VID1' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 6, '0')"
            " || lpad(CAST((doc_id * 7) % 900 + 100 AS VARCHAR), 6, '0')"
            " || lpad(CAST(doc_id % 50 + 20 AS VARCHAR), 4, '0')"
            " || CAST(f AS VARCHAR)) AS frame_fingerprint "
            "FROM documents, UNNEST(generate_series(0, doc_id % 50 + 20 - 1, 10)) AS u(f)"
        ),
        "handles": (
            "SELECT o_orderkey, "
            "CASE WHEN o_orderkey%17=0 THEN NULL ELSE '1903.1/'||o_orderkey END AS handle_id, "
            "CASE WHEN o_orderkey%17=0 THEN NULL ELSE 'hdl:1903.1/'||o_orderkey END AS handle_uri, "
            "CASE WHEN o_orderkey%17=0 THEN NULL "
            "ELSE 'http://hdl.handle.net/1903.1/'||o_orderkey END AS handle_proxied_uri "
            "FROM orders"
        ),
        "curie": (
            "SELECT doc_id, CASE "
            "WHEN doc_id%3=0 THEN 'dcterms:title'||doc_id "
            "WHEN doc_id%3=1 THEN 'pcdm:Object'||doc_id "
            "ELSE 'http://example.org/other/'||doc_id END AS curie FROM documents"
        ),
        "display_values": (
            "SELECT doc_id, array_to_string(list_transform(list_sort(["
            " k1||chr(1)||'[@en]'||t1, k2||chr(1)||'[@de]'||t2,"
            " k3||chr(1)||t3, k4||chr(1)||'[@fr]'||t4"
            "]), x -> string_split(x, chr(1))[2]), '|') AS display FROM ("
            " SELECT doc_id,"
            " CASE WHEN lang='en' THEN '1,'||lower(t1) ELSE '2,en,'||lower(t1) END AS k1,"
            " CASE WHEN lang='de' THEN '1,'||lower(t2) ELSE '2,de,'||lower(t2) END AS k2,"
            " '3,'||lower(t3) AS k3,"
            " CASE WHEN lang='fr' THEN '1,'||lower(t4) ELSE '2,fr,'||lower(t4) END AS k4,"
            " t1, t2, t3, t4 FROM ("
            "  SELECT doc_id, lang, t[1] AS t1, t[2] AS t2, t[3] AS t3, t[4] AS t4"
            "  FROM (SELECT doc_id, lang, str_split(text,' ') AS t FROM documents)))"
        ),
        "iiif_identifier": (
            "SELECT doc_id, 'iiif:images:'||doc_id||':page:'||(doc_id%7) AS iiif_id "
            "FROM documents"
        ),
        "iiif_links": (
            "SELECT doc_id, "
            "'fcrepo:obj:' || doc_id AS manifest_id, "
            "'https://iiif.example.edu/manifests/fcrepo:obj:' || doc_id AS manifest_uri, "
            "t1 || '|static:unavailable' AS thumb_ids, "
            "'https://iiif.example.edu/thumbnails/' || t1 "
            "|| '|https://iiif.example.edu/thumbnails/static:unavailable' AS thumb_uris "
            "FROM (SELECT doc_id, 'fcrepo:files:' || doc_id || ':' || "
            "CASE doc_id%4 WHEN 0 THEN 'pres' WHEN 1 THEN 'tiff' "
            "WHEN 2 THEN 'jpeg' ELSE 'png' END AS t1 FROM documents)"
        ),
        "atomic_diff": (
            "SELECT doc_id AS id, 'update' AS op, 'text' AS field, "
            "'{\"set\":\"'||text||' v2\"}' AS set_json FROM documents "
            "WHERE doc_id%13!=0 AND doc_id%7=0 "
            "UNION ALL SELECT doc_id, 'update', 'lang', '{\"set\":\"uk\"}' "
            "FROM documents WHERE doc_id%13!=0 AND doc_id%11=0 "
            "UNION ALL SELECT doc_id, 'delete', NULL, NULL FROM documents WHERE doc_id%13=0 "
            "UNION ALL SELECT doc_id+200000, 'add', NULL, NULL FROM documents WHERE doc_id%19=0"
        ),
        "edtf_dates": (
            "SELECT doc_id, "
            "CASE doc_id%8"
            " WHEN 0 THEN y WHEN 1 THEN y||'-06' WHEN 2 THEN y||'-06-15'"
            " WHEN 3 THEN y||'/'||y2 WHEN 4 THEN y||'-21' WHEN 5 THEN y||'?'"
            " WHEN 6 THEN '19XX' ELSE '../'||y END AS date__edtf, "
            "CASE doc_id%8"
            " WHEN 0 THEN y WHEN 1 THEN y||'-06' WHEN 2 THEN y||'-06-15'"
            " WHEN 3 THEN '['||y||' TO '||y2||']'"
            " WHEN 4 THEN '['||y||'-03-01 TO '||y||'-05-31]'"
            " WHEN 5 THEN y WHEN 6 THEN '[1900-01-01 TO 1999-12-31]'"
            " ELSE '[* TO '||y||']' END AS dt, "
            "(doc_id%8 = 5) AS is_uncertain, "
            "CASE doc_id%8 WHEN 4 THEN NULL WHEN 6 THEN 2"
            " WHEN 1 THEN 5 WHEN 2 THEN 6 ELSE 4 END AS precision "
            "FROM (SELECT doc_id, CAST(doc_id%200+1900 AS VARCHAR) AS y,"
            " CAST(doc_id%200+1902 AS VARCHAR) AS y2 FROM documents)"
        ),
        "url_normalize": (
            "SELECT doc_id, "
            "lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS host, "
            "CASE WHEN doc_id%5=1 THEN 'site'||m||'.co.uk' "
            "WHEN doc_id%5=0 THEN 'example'||m||'.com' "
            "WHEN doc_id%5=2 THEN 'example'||m||'.org' "
            "WHEN doc_id%5=3 THEN 'example'||m||'.com' "
            "ELSE 'example'||m||'.net' END AS domain, "
            "CASE doc_id%5 WHEN 0 THEN 2 WHEN 1 THEN 2 WHEN 2 THEN 1"
            " WHEN 3 THEN 0 ELSE 3 END AS path_depth, "
            "CASE doc_id%5"
            " WHEN 0 THEN 'http://www.example'||m||'.com/a/b?a=1&z=3'"
            " WHEN 1 THEN 'https://sub.site'||m||'.co.uk/path/page'"
            " WHEN 2 THEN 'https://cdn.example'||m||'.org:8443/x'"
            " WHEN 3 THEN 'http://example'||m||'.com/'"
            " ELSE 'https://a.b.example'||m||'.net/one/two/three?a=1&b=2'"
            " END AS normalized "
            "FROM (SELECT doc_id, CAST(doc_id%50 AS VARCHAR) AS m, "
            "CASE doc_id%5"
            " WHEN 0 THEN 'HTTP://WWW.Example'||(doc_id%50)||'.COM:80/a/b/?z=3&a=1#frag'"
            " WHEN 1 THEN 'https://sub.site'||(doc_id%50)||'.co.uk/path/page'"
            " WHEN 2 THEN 'https://cdn.example'||(doc_id%50)||'.org:8443/x'"
            " WHEN 3 THEN 'http://example'||(doc_id%50)||'.com'"
            " ELSE 'https://a.b.example'||(doc_id%50)||'.net/one/two/three?b=2&a=1'"
            " END AS url FROM documents)"
        ),
        "blocklist_filter": (
            "SELECT doc_id, 'https://www.example' || (doc_id%50) || '.com/page/' || doc_id AS url "
            "FROM documents WHERE (doc_id%50) % 7 != 0"
        ),
        "winnow_fingerprints": (
            "SELECT doc_id, len(fps) AS n_fps, fps[1] AS fp_min, fps[-1] AS fp_max "
            "FROM (SELECT doc_id, list_sort(list_distinct(list_transform("
            "generate_series(1, len(hashes) - 3), j -> list_min(hashes[j:j+3])"
            "))) AS fps FROM (SELECT doc_id, list_transform("
            "generate_series(1, length(text) - 7), "
            "i -> CAST(('0x'||substr(md5(substr(text, i, 8)),1,15))::UBIGINT AS BIGINT)"
            ") AS hashes FROM documents))"
        ),
        "ann_ivf": _ivf_oracle_sql(),
        "kmeans_clusters": _kmeans_oracle_sql(),
        "semantic_dedup": _semdedup_oracle_sql(),
        "importance_resample": _dsir_oracle_sql(),
        # ground truth derived analytically from (doc_id, lang) — the
        # same rules q_html_metadata bakes into the synthesized <head>;
        # a misfiring JVM regexp extractor hash-fails against this
        "html_metadata": (
            "SELECT doc_id, "
            "'https://corpus.example.org/canonical/' || CAST(doc_id AS VARCHAR) AS canonical_url, "
            "CASE (doc_id % 4) WHEN 0 THEN 'utf-8' WHEN 1 THEN 'windows-1252' "
            "WHEN 2 THEN 'shift_jis' ELSE 'iso-8859-1' END AS declared_charset, "
            "CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS declared_lang, "
            "CASE WHEN doc_id % 7 = 0 THEN NULL "
            "ELSE 'desc-' || lang || '-' || CAST(doc_id AS VARCHAR) END AS meta_description, "
            "CASE WHEN doc_id % 5 = 0 THEN 'noindex, nofollow' ELSE NULL END AS meta_robots, "
            "'Doc ' || CAST(doc_id AS VARCHAR) AS og_title, "
            "printf('2023-06-01T%02d:00:00', CAST(doc_id % 24 AS INT)) || "
            "CASE WHEN doc_id % 2 = 0 THEN '+00:00' ELSE 'Z' END AS published_time "
            "FROM documents"
        ),
        "stratified_sample": (
            "SELECT doc_id, lang FROM documents WHERE "
            "(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT % 100) < "
            "(CASE lang WHEN 'en' THEN 20 WHEN 'de' THEN 50 WHEN 'zh' THEN 100 "
            "ELSE 10 END)"
        ),
        "corpus_stats": (
            "SELECT lang, count(*) AS n_docs, "
            "CAST(sum(len(str_split(text,' '))) AS BIGINT) AS total_tokens, "
            "round(avg(q), 4) AS avg_quality, "
            "quantile_cont(n_chars, 0.5) AS median_chars "
            "FROM (SELECT lang, text, n_chars, "
            "round(((CASE WHEN n >= 10 AND n <= 100000 THEN 1.0 ELSE 0.0 END)"
            " + (CASE WHEN CAST(length(text) AS DOUBLE)/n >= 3.0 "
            "        AND CAST(length(text) AS DOUBLE)/n <= 12.0 THEN 1.0 ELSE 0.0 END)"
            " + (CASE WHEN CAST(length(text) - length(regexp_replace(text,"
            " '[^\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE)/length(text) <= 0.2"
            "        THEN 1.0 ELSE 0.0 END)"
            " + (CASE WHEN CAST(len(list_filter(t, x -> x IN "
            "('the','a','and','of','to','in','is','it','that','for'))) AS DOUBLE)/n"
            "        >= 0.01 THEN 1.0 ELSE 0.5 END)) / 4.0, 4) AS q "
            "FROM (SELECT lang, text, n_chars, str_split(text,' ') AS t,"
            " len(str_split(text,' ')) AS n FROM documents)) GROUP BY lang"
        ),
        "repetition_stats": (
            "WITH b AS (SELECT doc_id, text, str_split(text,' ') AS t FROM documents), "
            "m AS (SELECT doc_id, "
            "CASE WHEN doc_id%3=0 THEN [f5, f5, text] ELSE [f5, text] END AS lines, "
            "CASE WHEN doc_id%5=0 THEN text || ' loop beat loop beat loop beat loop beat' "
            "ELSE text END AS lt "
            "FROM (SELECT doc_id, text, array_to_string(list_slice(t,1,5),' ') AS f5 FROM b)), "
            "tg AS (SELECT doc_id, g, count(*) AS c, any_value(n) AS n FROM ("
            "SELECT doc_id, len(tt) AS n, "
            "unnest(list_transform(generate_series(1, len(tt)-1), "
            "i -> array_to_string(list_slice(tt,i,i+1),' '))) AS g "
            "FROM (SELECT doc_id, str_split(lt,' ') AS tt FROM m)) GROUP BY doc_id, g), "
            "tb AS (SELECT doc_id, round(least(CAST(max(c) AS DOUBLE)*2/any_value(n), 1.0),6) AS tbf "
            "FROM tg GROUP BY doc_id) "
            "SELECT m.doc_id, "
            "round(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)/len(lines), 6) AS dup_line_frac, "
            "tb.tbf AS top_bigram_frac FROM m JOIN tb ON m.doc_id = tb.doc_id"
        ),
        "quality_topk": (
            "SELECT lang, doc_id, q AS quality, rn AS group_rank FROM ("
            "SELECT lang, doc_id, q, row_number() OVER ("
            "PARTITION BY lang ORDER BY q DESC, doc_id) AS rn FROM ("
            f"SELECT lang, doc_id, {_QUALITY_EXPR} AS q "
            "FROM (SELECT lang, doc_id, text, str_split(text,' ') AS t,"
            " len(str_split(text,' ')) AS n FROM documents))) WHERE rn <= 3"
        ),
        "pack_sequences": (
            "SELECT doc_id, lang, n_tokens, "
            "CAST(floor(prev/4096.0) AS BIGINT) AS bin_id, "
            "CAST(prev % 4096 AS BIGINT) AS bin_offset FROM ("
            "SELECT doc_id, lang, n_tokens, "
            "coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev "
            "FROM (SELECT doc_id, lang, len(str_split(text,' ')) AS n_tokens "
            "FROM documents))"
        ),
        "token_counts": (
            "SELECT doc_id, "
            "len(str_split(text, ' ')) AS ws_tokens, "
            "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS bpe_tokens, "
            "CAST(list_sum(list_transform(str_split(text,' '), "
            "x -> CAST(ceil(length(x)/4.0) AS BIGINT))) AS BIGINT) AS subword_est "
            "FROM documents"
        ),
        # bpe_tokens: rows-only (iterative merge learning, not
        # SQL-expressible); its distributed stage is covered here
        "bpe_word_counts": (
            "SELECT word, CAST(count(*) AS BIGINT) AS freq FROM ("
            "  SELECT unnest(regexp_extract_all(text, "
            "    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS word FROM documents"
            ") GROUP BY word ORDER BY freq DESC, word ASC LIMIT 200"
        ),
        # independent PageRank implementation: recursive CTE, same
        # integer fixed-point contract (total 10^12, damping 85/100,
        # 5 rounds; keep-alive zero rows so no-inbound nodes receive
        # the base term; contribs varchar-packed through list_zip
        # because DuckDB's zipped struct is unnamed)
        "pagerank": (
            "WITH RECURSIVE "
            "edges AS (SELECT DISTINCT 'h' || CAST(doc_id % 17 AS VARCHAR) AS src, "
            "  'h' || CAST((doc_id * 7 + 3) % 17 AS VARCHAR) AS dst FROM documents "
            "  WHERE doc_id % 17 != (doc_id * 7 + 3) % 17), "
            "nodes AS (SELECT DISTINCT node FROM "
            "  (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)), "
            "adj AS (SELECT src, list(dst ORDER BY dst) AS dsts, "
            "  CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src), "
            "ranks(iter, node, rank) AS ("
            "  SELECT 0, node, CAST(1000000000000 // (SELECT count(*) FROM nodes) AS BIGINT) FROM nodes "
            "  UNION ALL "
            "  SELECT r.iter + 1, z[1], "
            "    CAST((15 * 1000000000000 // 100) // (SELECT count(*) FROM nodes) "
            "         + 85 * SUM(CAST(z[2] AS BIGINT)) // 100 AS BIGINT) "
            "  FROM ranks r "
            "  LEFT JOIN adj a ON a.src = r.node, "
            "  UNNEST(list_zip("
            "    list_prepend(r.node, COALESCE(a.dsts, [])), "
            "    list_prepend(CAST(0 AS VARCHAR), COALESCE(list_transform("
            "      a.dsts, x -> CAST(r.rank // a.deg AS VARCHAR)), [])))) AS u(z) "
            "  WHERE r.iter < 5 GROUP BY r.iter, z[1]) "
            "SELECT node, rank FROM ranks WHERE iter = 5"
        ),
        # anchors: expected pairs re-derived arithmetically (no regex
        # replay) — pos 0 is the double-quoted anchor, pos 1 the
        # single-quoted one, per the documented extraction order
        "anchors": (
            "SELECT doc_id, CAST(0 AS BIGINT) AS pos, "
            "'https://ex' || CAST(doc_id % 9 AS VARCHAR) || '.co.uk/p?id=' "
            "|| CAST(doc_id AS VARCHAR) AS href, "
            "'Read more ' || CAST(doc_id AS VARCHAR) AS anchor FROM documents "
            "UNION ALL "
            "SELECT doc_id, CAST(1 AS BIGINT), '/about', 'About Us' FROM documents"
        ),
        "crawl_delay_schedule": (
            "WITH urls AS (SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) "
            "  || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url, "
            "  'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host, "
            "  doc_id % 7 AS hid FROM documents), "
            "counts AS (SELECT host, hid, count(*) AS n FROM urls GROUP BY host, hid), "
            "rated AS (SELECT host, CAST(ceil(n / (CASE WHEN hid % 3 = 0 "
            "  THEN greatest(1, CAST(floor(10.0 / 5.0) AS BIGINT)) "
            "  ELSE 10 END)) AS BIGINT) AS n_slots FROM counts) "
            "SELECT u.url, u.host, "
            "  CAST(('0x'||substr(md5(u.url),1,15))::UBIGINT "
            "    % CAST(r.n_slots AS UBIGINT) AS BIGINT) AS slot "
            "FROM urls u JOIN rated r ON u.host = r.host"
        ),
        "fetch_schedule": (
            "WITH urls AS (SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) "
            "  || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url, "
            "  'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host "
            "  FROM documents), "
            "counts AS (SELECT host, count(*) AS n FROM urls GROUP BY host) "
            "SELECT u.url, u.host, "
            "  CAST((row_number() OVER (PARTITION BY u.host ORDER BY u.url ASC) - 1) "
            "    // 10 AS BIGINT) AS slot_exact, "
            "  CAST(('0x'||substr(md5(u.url),1,15))::UBIGINT "
            "    % CAST(ceil(c.n / 10.0) AS UBIGINT) AS BIGINT) AS slot_hash "
            "FROM urls u JOIN counts c ON u.host = c.host"
        ),
        # lm_score: probabilities are integer ratios (exactly rounded
        # doubles) and the per-doc sum folds in position order via
        # list_reduce, mirroring Spark's array_sort + aggregate fold —
        # bit parity without any transcendental function
        # lm_backoff: λ written as (7.0/10.0) and 1−λ as
        # (1 - 7.0/10.0) so both engines run the same IEEE ops
        "lm_backoff": (
            "WITH toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents), "
            "big AS (SELECT doc_id, i - 1 AS pos, t[i] AS w1, t[i+1] AS w2 "
            "  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i) "
            "  WHERE len(t) > 1), "
            "c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2), "
            "model AS (SELECT w1, w2, c2, "
            "  c2 / sum(c2) OVER (PARTITION BY w1) AS p FROM c2), "
            "kept AS (SELECT w1, w2, p FROM model WHERE c2 >= 2), "
            "unic AS (SELECT w, count(*) AS c FROM ("
            "  SELECT unnest(str_split(text, ' ')) AS w FROM documents"
            ") GROUP BY w), "
            "uni2 AS (SELECT w, c / sum(c) OVER () AS p1 FROM unic), "
            "scored AS (SELECT b.doc_id, b.pos, "
            "  CASE WHEN m.p IS NULL AND u.p1 IS NULL THEN 1 ELSE 0 END AS oov, "
            "  (7.0/10.0) * COALESCE(m.p, 0.0) "
            "  + (1 - 7.0/10.0) * COALESCE(u.p1, 1e-6) AS p "
            "  FROM big b LEFT JOIN kept m USING (w1, w2) "
            "  LEFT JOIN uni2 u ON u.w = b.w2), "
            "folded AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, "
            "  sum(oov) AS n_oov, "
            "  list_reduce(list_prepend(0.0, list_transform("
            "    list_sort(list(struct_pack(pos := pos, p := p))), "
            "    s -> s.p)), (a, b) -> a + b) AS sum_p "
            "  FROM scored GROUP BY doc_id) "
            "SELECT doc_id, n_bigrams, n_oov / n_bigrams AS oov_rate, "
            "  sum_p / n_bigrams AS mean_p FROM folded "
            "UNION ALL "
            "SELECT doc_id, CAST(0 AS BIGINT), CAST(NULL AS DOUBLE), "
            "  CAST(NULL AS DOUBLE) FROM documents "
            "WHERE doc_id NOT IN (SELECT doc_id FROM folded)"
        ),
        "lm_score": (
            "WITH toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents), "
            "big AS (SELECT doc_id, i - 1 AS pos, t[i] AS w1, t[i+1] AS w2 "
            "  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i) "
            "  WHERE len(t) > 1), "
            "c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2), "
            "model AS (SELECT w1, w2, c2, "
            "  c2 / sum(c2) OVER (PARTITION BY w1) AS p FROM c2), "
            "kept AS (SELECT w1, w2, p FROM model WHERE c2 >= 2), "
            "scored AS (SELECT b.doc_id, b.pos, "
            "  CASE WHEN m.p IS NULL THEN 1 ELSE 0 END AS oov, "
            "  COALESCE(m.p, 1e-6) AS p "
            "  FROM big b LEFT JOIN kept m USING (w1, w2)), "
            "folded AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, "
            "  sum(oov) AS n_oov, "
            "  list_reduce(list_prepend(0.0, list_transform("
            "    list_sort(list(struct_pack(pos := pos, p := p))), "
            "    s -> s.p)), (a, b) -> a + b) AS sum_p "
            "  FROM scored GROUP BY doc_id) "
            "SELECT doc_id, n_bigrams, n_oov / n_bigrams AS oov_rate, "
            "  sum_p / n_bigrams AS mean_p FROM folded "
            "UNION ALL "
            "SELECT doc_id, CAST(0 AS BIGINT), CAST(NULL AS DOUBLE), "
            "  CAST(NULL AS DOUBLE) FROM documents "
            "WHERE doc_id NOT IN (SELECT doc_id FROM folded)"
        ),
        # inverted index: capped impact-ordered postings, df uncapped
        "inverted_postings": (
            _DOC_TERMS_CTE
            + "SELECT term, df, doc_id, tf, first_pos, posting_rank FROM ("
            "SELECT term, count(*) OVER (PARTITION BY term) AS df, "
            "doc_id, tf, first_pos, "
            "row_number() OVER (PARTITION BY term "
            "ORDER BY tf DESC, doc_id ASC) AS posting_rank FROM terms) "
            "WHERE posting_rank <= 20"
        ),
        # retrieval over the capped index: OR match, conjunctive-first
        # deterministic ranking, same cap (50) as the Spark postings
        "keyword_search": (
            _DOC_TERMS_CTE
            + ", postings AS (SELECT term, df, doc_id, tf FROM ("
            "SELECT term, count(*) OVER (PARTITION BY term) AS df, "
            "doc_id, tf, "
            "row_number() OVER (PARTITION BY term "
            "ORDER BY tf DESC, doc_id ASC) AS posting_rank FROM terms) "
            "WHERE posting_rank <= 50), "
            "matched AS (SELECT doc_id, "
            "CAST(count(*) AS BIGINT) AS n_matched, "
            "CAST(sum((tf * 1000000) // df) AS BIGINT) AS score "
            "FROM postings WHERE term IN ('spark', 'window', 'merge') "
            "GROUP BY doc_id) "
            "SELECT doc_id, n_matched, score FROM matched "
            "ORDER BY n_matched DESC, score DESC, doc_id ASC LIMIT 20"
        ),
        # ratio-TF-IDF keywords: exact integer floor division
        "tfidf_keywords": (
            _DOC_TERMS_CTE
            + ", dfreq AS (SELECT term, count(*) AS df FROM terms GROUP BY term), "
            "scored AS (SELECT t.doc_id, t.term, t.tf, d.df, "
            "(t.tf * 1000000) // d.df AS score "
            "FROM terms t JOIN dfreq d USING (term)), "
            "ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
            "ORDER BY score DESC, term ASC) AS keyword_rank FROM scored) "
            "SELECT doc_id, term, tf, df, score, keyword_rank "
            "FROM ranked WHERE keyword_rank <= 5"
        ),
        # tokenization value-check from the merge table the query
        # materializes (see q_bpe_tokens): each distinct word starts
        # as chr(31)-separated chars + '</w>', then the merges are
        # applied in rank order; one recursion step = one replace()
        # pass (all non-overlapping occurrences), advancing to the
        # next rank only at fixpoint — equivalent to the engine's
        # lowest-rank greedy loop for learned (self-consistent)
        # merge lists. Per-doc streams reassembled in word order.
        "bpe_tokens": (
            "WITH RECURSIVE "
            "merges AS (SELECT rank, \"left\" AS l, \"right\" AS r "
            "FROM read_parquet('" + BPE_MERGES_ORACLE_PATH + "/*.parquet')), "
            "nm AS (SELECT CAST(count(*) AS INT) AS n FROM merges), "
            "words AS (SELECT DISTINCT unnest(regexp_extract_all(text, "
            "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS word FROM documents), "
            "bpe(word, s, rank) AS ("
            "SELECT word, chr(31) || array_to_string(list_transform("
            "generate_series(1, length(word)), i -> word[i]), chr(31)) "
            "|| chr(31) || '</w>' || chr(31), 0 FROM words "
            "UNION ALL "
            "SELECT b.word, "
            "replace(b.s, chr(31) || m.l || chr(31) || m.r || chr(31), "
            "chr(31) || m.l || m.r || chr(31)), "
            "CASE WHEN replace(b.s, chr(31) || m.l || chr(31) || m.r || chr(31), "
            "chr(31) || m.l || m.r || chr(31)) = b.s "
            "THEN b.rank + 1 ELSE b.rank END "
            "FROM bpe b JOIN merges m ON m.rank = b.rank "
            "WHERE b.rank < (SELECT n FROM nm)), "
            "tok AS (SELECT word, trim(replace(s, chr(31), ' ')) AS spaced, "
            "CAST(len(string_split(s, chr(31))) - 2 AS BIGINT) AS n_toks "
            "FROM bpe WHERE rank = (SELECT n FROM nm)), "
            "dw AS (SELECT doc_id, u.ord AS ord, u.word AS word FROM ("
            "SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)), "
            "i -> {'ord': i, 'word': ws[i]})) AS u "
            "FROM (SELECT doc_id, regexp_extract_all(text, "
            "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+') AS ws FROM documents))) "
            "SELECT d.doc_id, "
            "coalesce(CAST(sum(t.n_toks) AS BIGINT), 0) AS n_bpe_tokens, "
            "coalesce(string_agg(t.spaced, ' ' ORDER BY dw.ord), '') AS bpe_text "
            "FROM documents d "
            "LEFT JOIN dw ON d.doc_id = dw.doc_id "
            "LEFT JOIN tok t ON dw.word = t.word "
            "GROUP BY d.doc_id"
        ),
        # full-fidelity replay of the 5-op curation chain: every
        # stage re-derived in SQL (linededup per-line counts, RE2
        # normalize/scrub regexes shared with the Spark side,
        # min-id-per-text-hash dedup, post-dedup temperature mix)
        "curate_chain": (
            "WITH base AS (SELECT doc_id, lang, "
            "'SHARED COOKIE BANNER' || chr(10) || "
            "CASE WHEN doc_id % 10 IN (6, 7) THEN "
            "'PAIR' || chr(9) || 'BODY ' || CAST(doc_id // 10 AS VARCHAR) "
            "ELSE text END || chr(10) || "
            "'Contact user' || CAST(doc_id AS VARCHAR) || '@ex' || "
            "CAST(doc_id % 9 AS VARCHAR) || '.com at 10.0.' || "
            "CAST(doc_id % 256 AS VARCHAR) || '.' || "
            "CAST(doc_id % 100 AS VARCHAR) || ' or 555-' || "
            "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || "
            "lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0') || ' now' "
            "|| chr(10) || 'footer-' || CAST(doc_id % 7 AS VARCHAR) || "
            "chr(10) || 'ALL RIGHTS RESERVED' AS t FROM documents), "
            "e AS (SELECT doc_id, u.idx AS idx, u.line AS line FROM ("
            "SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)), "
            "i -> {'idx': i, 'line': ls[i]})) AS u "
            "FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM base))), "
            "c AS (SELECT line, count(*) AS n FROM e GROUP BY line), "
            "ld AS (SELECT doc_id, "
            "string_agg(CASE WHEN n < 3 THEN line END, chr(10) ORDER BY idx) "
            "AS cleaned, count(CASE WHEN n < 3 THEN 1 END) AS kept "
            "FROM e JOIN c USING (line) GROUP BY doc_id), "
            "norm AS (SELECT b.doc_id, b.lang, trim(regexp_replace("
            "regexp_replace(ld.cleaned, '[\\x00-\\x1f\\x7f]', ' ', 'g'), "
            "'\\s+', ' ', 'g')) AS t "
            "FROM ld JOIN base b USING (doc_id) WHERE ld.kept > 0), "
            "scrubbed AS (SELECT doc_id, lang, regexp_replace(regexp_replace("
            "regexp_replace(t, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'), "
            "'\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '[IP]', 'g'), "
            "'\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b', '[PHONE]', 'g') AS t "
            "FROM norm), "
            "ded AS (SELECT doc_id, lang, t FROM scrubbed "
            "QUALIFY row_number() OVER (PARTITION BY "
            "md5(coalesce(t, CAST(doc_id AS VARCHAR))) "
            "ORDER BY doc_id ASC) = 1), "
            "cc AS (SELECT lang, count(*) AS n FROM ded GROUP BY lang), "
            "r AS (SELECT lang, CAST(floor(least(1.0, "
            "pow(n::DOUBLE / (SELECT min(n) FROM cc), -0.5)) * 1000000) "
            "AS BIGINT) AS cut FROM cc) "
            "SELECT d.doc_id, d.lang, d.t AS text FROM ded d "
            "JOIN r USING (lang) WHERE "
            "('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))"
            "::UBIGINT % 1000000 < cut"
        ),
    }


def _compose_oracles(base: dict[str, str]) -> dict[str, str]:
    """Build the composite-query oracles by wrapping the component
    SQL (each a complete SELECT, possibly with its own WITH — DuckDB
    supports nested CTEs in subqueries) and joining/union-tagging
    exactly as the Spark composites do. Sentinels (-1 / '') mirror
    the Spark side so no column is nullable-numeric in pandas."""
    out = dict(base)

    ts = out.pop("text_stats")
    qs2 = out.pop("quality_score")
    li = out.pop("langid")
    tc = out.pop("token_counts")
    fp = out.pop("fingerprint")
    wf = out.pop("winnow_fingerprints")
    out["text_metrics"] = (
        f"WITH cts AS ({ts}), cqs AS ({qs2}), cli AS ({li}), "
        f"ctc AS ({tc}), cfp AS ({fp}), cwf AS ({wf}) "
        "SELECT cts.doc_id, cts.n_tokens, cts.n_chars, cts.avg_token_len, "
        "cts.stopword_ratio, cqs.quality, cqs.subword_tokens, cli.lang_pred, "
        "ctc.bpe_tokens, cfp.fingerprint, cwf.n_fps, cwf.fp_min, cwf.fp_max "
        "FROM cts JOIN cqs USING (doc_id) JOIN cli USING (doc_id) "
        "JOIN ctc USING (doc_id) JOIN cfp USING (doc_id) JOIN cwf USING (doc_id)"
    )

    pii = out.pop("pii_scrub")
    norm = out.pop("text_normalize")
    out["scrub_normalize"] = (
        f"WITH cpi AS ({pii}), cno AS ({norm}) "
        "SELECT cpi.doc_id, cpi.scrubbed, cpi.n_emails, cpi.n_ips, "
        "cpi.n_phones, cno.normalized FROM cpi JOIN cno USING (doc_id)"
    )

    lma = out.pop("lm_score")
    lmb = out.pop("lm_backoff")
    out["lm_scores"] = (
        f"WITH clm AS ({lma}), cbo AS ({lmb}), "
        # CCNet tier thresholds: the REAL score at rank ceil(n·i/3) of
        # the (mean_p DESC, doc_id) order — rank-selected, never
        # interpolated, so no float-interpolation parity to maintain
        "ranked AS (SELECT mean_p, row_number() OVER "
        "(ORDER BY mean_p DESC, doc_id ASC) AS rn, count(*) OVER () AS n "
        "FROM clm WHERE mean_p IS NOT NULL), "
        "th AS (SELECT min(CASE WHEN rn = ceil(n * 1 / 3.0) THEN mean_p END) AS t1, "
        "min(CASE WHEN rn = ceil(n * 2 / 3.0) THEN mean_p END) AS t2 FROM ranked) "
        "SELECT clm.doc_id, clm.n_bigrams, clm.oov_rate, clm.mean_p, "
        "cbo.oov_rate AS oov_rate_bo, cbo.mean_p AS mean_p_bo, "
        "CASE WHEN clm.mean_p IS NULL THEN NULL ELSE "
        "(CASE WHEN clm.mean_p < th.t1 THEN 1 ELSE 0 END) "
        "+ (CASE WHEN clm.mean_p < th.t2 THEN 1 ELSE 0 END) END AS ppl_bucket "
        "FROM clm JOIN cbo USING (doc_id) CROSS JOIN th"
    )

    fs = out.pop("fetch_schedule")
    cd = out.pop("crawl_delay_schedule")
    out["crawl_schedule"] = (
        f"WITH cfs AS ({fs}), ccd AS ({cd}) "
        "SELECT cfs.url, cfs.host, cfs.slot_exact, cfs.slot_hash, "
        "ccd.slot AS slot_delay FROM cfs JOIN ccd ON cfs.url = ccd.url"
    )

    ip = out.pop("inverted_postings")
    tk = out.pop("tfidf_keywords")
    ks = out.pop("keyword_search")
    out["index_build"] = (
        f"WITH cip AS ({ip}), ctk AS ({tk}), cks AS ({ks}) "
        "SELECT 'postings' AS stage, term, doc_id, CAST(tf AS BIGINT) AS tf, "
        "CAST(df AS BIGINT) AS df, CAST(posting_rank AS BIGINT) AS rnk, "
        "CAST(first_pos AS BIGINT) AS first_pos, CAST(-1 AS BIGINT) AS score FROM cip "
        "UNION ALL SELECT 'tfidf', term, doc_id, CAST(tf AS BIGINT), "
        "CAST(df AS BIGINT), CAST(keyword_rank AS BIGINT), CAST(-1 AS BIGINT), "
        "CAST(score AS BIGINT) FROM ctk "
        "UNION ALL SELECT 'search', '', doc_id, CAST(n_matched AS BIGINT), "
        "CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), "
        "CAST(score AS BIGINT) FROM cks"
    )

    ss = out.pop("stratified_sample")
    qt = out.pop("quality_topk")
    rs = out.pop("repetition_stats")
    out["sampling_quality"] = (
        f"WITH css AS ({ss}), cqt AS ({qt}), crs AS ({rs}), "
        f"ctb AS ({_token_budget_sql()}) "
        "SELECT 'sample' AS stage, doc_id, lang, CAST(-1.0 AS DOUBLE) AS q1, "
        "CAST(-1.0 AS DOUBLE) AS q2, CAST(-1 AS BIGINT) AS rnk FROM css "
        "UNION ALL SELECT 'topk', doc_id, lang, CAST(quality AS DOUBLE), "
        "CAST(-1.0 AS DOUBLE), CAST(group_rank AS BIGINT) FROM cqt "
        "UNION ALL SELECT 'repetition', doc_id, '', CAST(dup_line_frac AS DOUBLE), "
        "CAST(top_bigram_frac AS DOUBLE), CAST(-1 AS BIGINT) FROM crs "
        "UNION ALL SELECT stage, doc_id, source, CAST(toks AS DOUBLE), "
        "CAST(target AS DOUBLE), CAST(-1 AS BIGINT) FROM ctb"
    )

    ds = out.pop("domain_stats")
    cs = out.pop("corpus_stats")
    out["corpus_report"] = (
        f"WITH cds AS ({ds}), ccs AS ({cs}) "
        "SELECT 'domain' AS stage, domain AS grp, n_docs, total_tokens, "
        "CAST(mean_chars AS DOUBLE) AS v1, CAST(-1.0 AS DOUBLE) AS v2 FROM cds "
        "UNION ALL SELECT 'language', lang, n_docs, total_tokens, "
        "CAST(avg_quality AS DOUBLE), CAST(median_chars AS DOUBLE) FROM ccs"
    )

    ab = out.pop("ann_bruteforce")
    al = out.pop("ann_lsh")
    ai = out.pop("ann_ivf")
    out["ann_topk"] = (
        f"WITH cab AS ({ab}), cal AS ({al}), cai AS ({ai}), "
        f"cpq AS ({_pq_oracle_sql()}) "
        "SELECT 'brute' AS stage, vec_id, cos_sim FROM cab "
        "UNION ALL SELECT 'lsh', vec_id, cos_sim FROM cal "
        "UNION ALL SELECT 'ivf', vec_id, cos_sim FROM cai "
        "UNION ALL SELECT 'pq', vec_id, cos_sim FROM cpq"
    )

    un = out.pop("url_normalize")
    bl = out.pop("blocklist_filter")
    out["url_filter"] = (
        f"WITH cun AS ({un}), cbl AS ({bl}) "
        "SELECT 'normalize' AS stage, doc_id, host, domain, "
        "CAST(path_depth AS BIGINT) AS path_depth, normalized FROM cun "
        "UNION ALL SELECT 'blocklist', doc_id, '', '', "
        "CAST(-1 AS BIGINT), url FROM cbl"
    )

    ol = out.pop("outlinks")
    an = out.pop("anchors")
    out["link_extract"] = (
        f"WITH col_ AS ({ol}), can_ AS ({an}) "
        "SELECT 'outlinks' AS stage, doc_id, CAST(-1 AS BIGINT) AS pos, "
        "links AS s1, domains AS s2, CAST(n_links AS BIGINT) AS n FROM col_ "
        "UNION ALL SELECT 'anchors', doc_id, CAST(pos AS BIGINT), "
        "href, anchor, CAST(-1 AS BIGINT) FROM can_"
    )

    mm = out.pop("multimodal_meta")
    mf = out.pop("media_features")
    fsamp = out.pop("frame_sample")
    out["multimodal"] = (
        f"WITH cmm AS ({mm}), cmf AS ({mf}), cfr AS ({fsamp}) "
        "SELECT 'meta' AS stage, asset_id, CAST(-1 AS BIGINT) AS idx, "
        "CAST(-1.0 AS DOUBLE) AS num, kind || '|' || CAST(width AS VARCHAR) "
        "|| '|' || CAST(height AS VARCHAR) || '|' || CAST(channels AS VARCHAR) "
        "|| '|' || CAST(n_bytes AS VARCHAR) || '|' || CAST(valid AS VARCHAR) "
        "AS sval FROM cmm "
        "UNION ALL SELECT 'feature', asset_id, CAST(dim_idx AS BIGINT), "
        "CAST(value AS DOUBLE), '' FROM cmf "
        "UNION ALL SELECT 'frame', asset_id, CAST(frame_index AS BIGINT), "
        "CAST(-1.0 AS DOUBLE), frame_fingerprint FROM cfr"
    )

    sh = out.pop("dedup_simhash")
    shp = out.pop("dedup_simhash_pairs")
    out["simhash"] = (
        f"WITH csh AS ({sh}), cpr AS ({shp}) "
        "SELECT 'sig' AS stage, doc_id AS id_a, CAST(-1 AS BIGINT) AS id_b, "
        "CAST(simhash32 AS BIGINT) AS val FROM csh "
        "UNION ALL SELECT 'pairs', id_a, id_b, CAST(hamming AS BIGINT) FROM cpr"
    )

    ml = out.pop("dedup_minhash_lsh")
    ng = out.pop("dedup_ngram_jaccard")
    out["near_dup_pairs"] = (
        f"WITH cml AS ({ml}), cng AS ({ng}) "
        "SELECT 'lsh' AS stage, id_a, id_b, jaccard_sim FROM cml "
        "UNION ALL SELECT 'ngram', doc_id, CAST(-1 AS BIGINT), jaccard_sim FROM cng"
    )

    return out


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction field-chain (markup-strip + boilerplate
    routes mixed) over sf0.001, returning the docs DataFrame."""
    from solrizer_spark.operators.repartition import url_bucket
    from solrizer_spark.plans.pipeline import run_chain

    clean = _wrap_pages(spark, SF_DEFAULT, boilerplate=False)
    boiler = _wrap_pages(spark, SF_DEFAULT, boilerplate=True).withColumn(
        "url", F.concat(F.col("url"), F.lit("?v=boiler"))
    )
    pages = clean.unionByName(boiler)
    out = run_chain(pages).withColumn("partition_key", url_bucket("url", 64, 0))
    return out.select(
        "url", "doc_id", "partition_key", "extracted_text", "title",
        "language__facet", "warc_ts__time", "is_discoverable", "doc",
    )
