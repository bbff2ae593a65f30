"""Round-3 additions: PSL-backed eTLD+1, label-concat faceters,
RFC 6570 simple-expansion fixups, literal-separator line splitting,
and the PIL-gated real image decode."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


# -- registered_domain over the pinned PSL snapshot -----------------------


@pytest.mark.parametrize(
    "url,expected",
    [
        ("https://a.b.co.uk/x", "b.co.uk"),
        ("https://deep.sub.example.co.uk/", "example.co.uk"),
        ("http://www.example.com/", "example.com"),
        ("https://site.gov.uk/page", "site.gov.uk"),
        ("https://x.y.z.com.au", "z.com.au"),
        ("https://portal.ac.jp", "portal.ac.jp"),
        ("https://co.uk/", "co.uk"),  # host IS the suffix
        ("https://a.gc.ca/x", "a.gc.ca"),
        ("https://b.example.de/x", "example.de"),  # plain ccTLD: 2 labels
        ("https://one.two.in.ua", "two.in.ua"),
    ],
)
def test_registered_domain_psl(spark, url, expected):
    from solrizer_spark.functions.urls import registered_domain

    got = (
        spark.range(1)
        .select(registered_domain(F.lit(url)).alias("d"))
        .collect()[0]["d"]
    )
    assert got == expected


def test_registered_domain_custom_suffixes(spark):
    from solrizer_spark.functions.urls import registered_domain

    got = (
        spark.range(1)
        .select(
            registered_domain(
                F.lit("https://a.b.weird.zz/x"), suffixes=frozenset({"weird.zz"})
            ).alias("d")
        )
        .collect()[0]["d"]
    )
    assert got == "b.weird.zz"


def test_load_psl_file(tmp_path):
    from solrizer_spark.functions.psl import load_psl_file

    p = tmp_path / "psl.dat"
    p.write_text(
        "// comment\n\ncom\nco.uk\n*.ck\n!www.ck\nCO.JP\n", encoding="utf-8"
    )
    got = load_psl_file(str(p))
    # single-label, wildcard, and exception rules are skipped
    assert got == frozenset({"co.uk", "co.jp"})


def test_blocklist_preserves_existing_domain_column(spark):
    """ADVICE r2: an input column named ``_domain`` must survive."""
    from solrizer_spark.functions.urls import filter_blocked_domains

    df = spark.createDataFrame(
        [("https://spam.com/a", "keepme"), ("https://ok.org/b", "keepme2")],
        "url string, _domain string",
    )
    block = spark.createDataFrame([("spam.com",)], "domain string")
    out = filter_blocked_domains(df, block)
    rows = out.collect()
    assert [r["url"] for r in rows] == ["https://ok.org/b"]
    assert rows[0]["_domain"] == "keepme2"  # untouched passthrough


# -- label-concat faceter primitives --------------------------------------


def test_concat_values_and_get_labels(spark):
    from solrizer_spark.functions.faceters import concat_values, get_labels

    df = spark.createDataFrame(
        [(["b", "a", "c"], [(["Z", "A"],), (["solo"],)])],
        "vals array<string>, objs array<struct<label:array<string>>>",
    )
    row = df.select(
        concat_values("vals").alias("cv"),
        get_labels("objs").alias("gl"),
        get_labels("objs", separator="; ").alias("gl2"),
    ).collect()[0]
    assert row["cv"] == "a / b / c"
    assert row["gl"] == ["A / Z", "solo"]
    assert row["gl2"] == ["A; Z", "solo"]


def test_label_faceters_model_arms(spark):
    """Per-model arm selection: Letter-shaped input (author/place) and
    Poster-shaped input (direct publisher/part_of values)."""
    from solrizer_spark.plans.pipeline import run_chain

    letter = spark.createDataFrame(
        [(1, "en", [(["Smith, J", "Arendt, H"],)], [(["Paris"],)])],
        "doc_id long, lang string, "
        "author__objects array<struct<label:array<string>>>, "
        "place__objects array<struct<label:array<string>>>",
    )
    out = run_chain(letter, ["facets"], conf={"faceters": ["creator", "location"]})
    row = out.collect()[0]
    assert row["creator__facet"] == ["Arendt, H / Smith, J"]
    assert row["location__facet"] == ["Paris"]

    poster = spark.createDataFrame(
        [(2, "en", ["Pub B", "Pub A"], "Coll-7")],
        "doc_id long, lang string, publisher array<string>, part_of string",
    )
    out2 = run_chain(
        poster, ["facets"], conf={"faceters": ["publisher", "archival_collection"]}
    )
    row2 = out2.collect()[0]
    assert row2["publisher__facet"] == ["Pub A / Pub B"]
    assert row2["archival_collection__facet"] == ["Coll-7"]


def test_presentation_set_missing_is_null(spark):
    from solrizer_spark.plans.pipeline import run_chain

    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    out = run_chain(df, ["facets"], conf={"faceters": ["presentation_set"]})
    assert out.collect()[0]["presentation_set__facet"] is None


def test_label_faceter_missing_column_fails_fast(spark):
    from solrizer_spark.plans.pipeline import run_chain

    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    with pytest.raises(ValueError, match="contributor.*requires one of"):
        run_chain(df, ["facets"], conf={"faceters": ["contributor"]})


# -- RFC 6570 simple expansion fixups --------------------------------------


def test_uri_template_simple_expansion_rfc6570(spark):
    from solrizer_spark.functions.uris import expand_uri_template

    row = (
        spark.range(1)
        .select(
            expand_uri_template(
                "https://iiif.example/{id}/info.json", F.lit("a~b*c d/e")
            ).alias("u"),
            expand_uri_template(
                "https://iiif.example/{+id}/info.json", F.lit("a~b*c d/e")
            ).alias("raw"),
        )
        .collect()[0]
    )
    # ~ literal, * encoded, space %20, / encoded (simple expansion)
    assert row["u"] == "https://iiif.example/a~b%2Ac%20d%2Fe/info.json"
    assert row["raw"] == "https://iiif.example/a~b*c d/e/info.json"


# -- literal separator in dup_line_fraction --------------------------------


def test_dup_line_fraction_literal_sep(spark):
    from solrizer_spark.functions.text_stats import dup_line_fraction

    df = spark.createDataFrame([("a.b.a.b",)], "t string")
    got = df.select(dup_line_fraction("t", sep=".").alias("f")).collect()[0]["f"]
    # 4 segments, 2 distinct → 0.5 repeated (NOT split on every char)
    assert got == 0.5


# -- PIL-gated real decode --------------------------------------------------


# -- chunk_text --------------------------------------------------------------


def test_chunk_text_boundaries(spark):
    from solrizer_spark.operators.sampling import chunk_text

    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text), (2, "short one"), (3, None)],
                               "doc_id long, text string")
    out = chunk_text(df, "text", chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 3 (null) emits nothing
    assert set(by_doc) == {1, 2}
    # doc 2 fits in one chunk, whole text
    assert len(by_doc[2]) == 1
    assert by_doc[2][0]["chunk"] == "short one"
    assert by_doc[2][0]["chunk_n_tokens"] == 2
    # doc 1: step=3, chunks at token offsets 0,3,6(,9) → ceil((10-4)/3)+1 = 3
    chunks = [r["chunk"] for r in sorted(by_doc[1], key=lambda r: r["chunk_index"])]
    assert chunks == ["t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9"]
    # one-token overlap carried into each subsequent chunk
    assert all(a.split()[-1] == b.split()[0] for a, b in zip(chunks, chunks[1:]))


def test_chunk_text_validates_params(spark):
    from solrizer_spark.operators.sampling import chunk_text

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="overlap"):
        chunk_text(df, "text", chunk_tokens=4, overlap=4)


def test_registered_domain_three_label_rule(spark):
    """Full-PSL sets may carry 3-label rules; longest match wins."""
    from solrizer_spark.functions.urls import registered_domain

    sufs = frozenset({"edu.au", "act.edu.au"})
    rows = (
        spark.createDataFrame(
            [("https://school.act.edu.au/x",), ("https://uni.edu.au/y",)],
            "url string",
        )
        .select("url", registered_domain("url", suffixes=sufs).alias("d"))
        .collect()
    )
    got = {r["url"]: r["d"] for r in rows}
    assert got["https://school.act.edu.au/x"] == "school.act.edu.au"
    assert got["https://uni.edu.au/y"] == "uni.edu.au"


def test_registered_domain_empty_suffix_set(spark):
    """An explicitly empty set means plain last-two-labels (review
    regression: falsy check silently restored the default snapshot)."""
    from solrizer_spark.functions.urls import registered_domain

    got = (
        spark.range(1)
        .select(
            registered_domain(F.lit("https://a.b.co.uk/"), suffixes=frozenset()).alias("d")
        )
        .collect()[0]["d"]
    )
    assert got == "co.uk"


def test_remove_repeated_lines(spark):
    from solrizer_spark.operators.dedup import remove_repeated_lines

    df = spark.createDataFrame(
        [
            (1, "BANNER\nunique alpha\nBANNER2"),
            (2, "BANNER\nunique beta\nBANNER2"),
            (3, "BANNER\nunique gamma\nBANNER2"),
            (4, "BANNER\nBANNER2"),  # nothing survives
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_repeated_lines(df, min_count=3).collect()}
    assert len(out) == 4
    assert out[1]["cleaned_text"] == "unique alpha"
    assert out[2]["cleaned_text"] == "unique beta"
    assert out[4]["cleaned_text"] == ""
    assert out[4]["n_lines_kept"] == 0 and out[4]["n_lines_dropped"] == 2
    assert out[1]["n_lines_kept"] == 1 and out[1]["n_lines_dropped"] == 2


def test_remove_repeated_lines_order_preserved(spark):
    from solrizer_spark.operators.dedup import remove_repeated_lines

    df = spark.createDataFrame(
        [(1, "z last\nDUP\na first\nDUP\nm middle"), (2, "DUP\nDUP")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["cleaned_text"]
           for r in remove_repeated_lines(df, min_count=3).collect()}
    # DUP occurs 4x corpus-wide -> dropped; original order kept
    assert out[1] == "z last\na first\nm middle"


def test_temperature_mix_proportions(spark):
    from solrizer_spark.operators.sampling import temperature_mix

    # 3 sources with counts 900/90/10: T=0 equalizes expectations to
    # ~10 each; smallest source always kept whole; T=1 keeps all
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 900, "big")
        .when(F.col("id") < 990, "mid")
        .otherwise("small")
        .alias("src"),
    )
    t1 = temperature_mix(df, "src", "doc_id", temperature=1.0)
    assert t1.count() == 1000

    t0 = temperature_mix(df, "src", "doc_id", temperature=0.0)
    by = {r["src"]: r["n"] for r in t0.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by["small"] == 10  # smallest kept whole
    assert 2 <= by["mid"] <= 25 and 2 <= by["big"] <= 25  # ~10 each in expectation

    with pytest.raises(ValueError, match="temperature"):
        temperature_mix(df, "src", "doc_id", temperature=1.5)


def test_temperature_mix_deterministic(spark):
    from solrizer_spark.operators.sampling import temperature_mix

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).cast("string").alias("src")
    )
    a = sorted(r["doc_id"] for r in temperature_mix(df, "src", "doc_id", 0.5).collect())
    b = sorted(r["doc_id"] for r in temperature_mix(df, "src", "doc_id", 0.5).collect())
    assert a == b and len(a) > 0


def test_extract_outlinks(spark):
    from solrizer_spark.functions.urls import extract_outlinks, outlink_domains

    html = (
        b'<html><a href="https://a.example.co.uk/x">1</a>'
        b"<a rel=nofollow href='/relative'>2</a>"
        b'<a href="https://a.example.co.uk/y">dup domain</a>'
        b'<a href="mailto:x@y.z">mail</a>'
        b"<p>no <b>links</b> here</p></html>"
    )
    df = spark.createDataFrame([(html,)], "html binary")
    row = df.select(
        extract_outlinks("html").alias("links"),
        outlink_domains("html").alias("domains"),
    ).collect()[0]
    assert row["links"] == [
        "https://a.example.co.uk/x",
        "https://a.example.co.uk/y",
        "mailto:x@y.z",
        "/relative",
    ]
    # absolute http(s) only, eTLD+1, deduped
    assert row["domains"] == ["example.co.uk"]


def test_hashed_linear_score(spark):
    from solrizer_spark.functions.text_stats import hashed_linear_score
    from solrizer_spark.operators.dedup import md5_hash60  # noqa: F401

    import hashlib

    weights = [0.5 if i % 2 == 0 else -0.25 for i in range(16)]

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 16

    text = "alpha beta gamma alpha"
    expected = round(1.0 + sum(weights[bucket(t)] for t in text.split(" ")), 6)
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(hashed_linear_score("t", weights, bias=1.0).alias("s")).collect()[0]["s"]
    assert got == expected

    with pytest.raises(ValueError, match="non-empty"):
        hashed_linear_score("t", [])


def test_per_model_conf_overrides(spark, corpus_dir):
    """conf['per_model'] selects faceters per content model — the
    indexers.yml analog: html rows get the domain faceter, tagged rows
    only language; rows from the other branch carry nulls after the
    unionByName merge."""
    from solrizer_spark.plans.pipeline import run_model_chains
    from solrizer_spark.sources.pages import read_pages

    pages = read_pages(spark, f"{corpus_dir}/pages")
    out = run_model_chains(
        pages,
        {
            "html": ["content_model", "facets", "doc"],
            "__default__": ["content_model", "doc"],
        },
        conf={
            "faceters": ["language"],
            "per_model": {"html": {"faceters": ["language", "domain"]}},
        },
    )
    rows = out.select("route", "language__facet", "domain__facet").collect()
    html_rows = [r for r in rows if r["route"] == "html"]
    other_rows = [r for r in rows if r["route"] != "html"]
    assert html_rows and other_rows
    assert all(r["domain__facet"] is not None for r in html_rows)
    # non-html branch never ran the facets stage -> nulls via unionByName
    assert all(r["domain__facet"] is None for r in other_rows)


def test_temperature_mix_null_rows_excluded(spark):
    """Null sources/keys neither skew rates nor silently survive: the
    smallest REAL source stays kept-whole."""
    from solrizer_spark.operators.sampling import temperature_mix

    df = spark.createDataFrame(
        [(i, "big") for i in range(90)]
        + [(100 + i, "small") for i in range(6)]
        + [(200, None), (None, "big")],
        "doc_id long, src string",
    )
    out = temperature_mix(df, "src", "doc_id", temperature=0.0)
    by = {r["src"]: r["n"] for r in out.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by["small"] == 6  # smallest real source kept whole
    assert None not in by


def test_extract_outlinks_case_insensitive(spark):
    from solrizer_spark.functions.urls import extract_outlinks

    df = spark.createDataFrame(
        [('<A HREF="https://x.com/1">u</A><a HREF=\'/two\'>l</a>',)], "h string"
    )
    got = df.select(extract_outlinks("h").alias("l")).collect()[0]["l"]
    assert got == ["https://x.com/1", "/two"]


def test_remove_repeated_lines_null_text_passthrough(spark):
    from solrizer_spark.operators.dedup import remove_repeated_lines

    df = spark.createDataFrame(
        [(1, "DUP\nkeep me\nDUP"), (2, "DUP\nDUP"), (3, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_repeated_lines(df, min_count=3).collect()}
    assert set(out) == {1, 2, 3}  # every input doc comes back
    assert out[3]["cleaned_text"] is None
    assert out[3]["n_lines_kept"] == 0 and out[3]["n_lines_dropped"] == 0
    assert out[1]["cleaned_text"] == "keep me"


def test_per_model_unknown_key_fails_fast(spark, corpus_dir):
    from solrizer_spark.plans.pipeline import run_model_chains
    from solrizer_spark.sources.pages import read_pages

    pages = read_pages(spark, f"{corpus_dir}/pages")
    with pytest.raises(ValueError, match="unknown model.*htlm"):
        run_model_chains(
            pages,
            {"html": ["content_model", "doc"], "__default__": ["doc"]},
            conf={"per_model": {"htlm": {"faceters": ["language"]}}},
        ).collect()


def test_media_feature_stage(spark):
    from solrizer_spark.operators.multimodal import (
        media_feature_stage,
        pseudo_embedding,
    )

    df = spark.createDataFrame([(1, b"IMG1x"), (2, None)], "asset_id long, payload binary")
    rows = {r["asset_id"]: r["features"] for r in media_feature_stage(df, dim=4).collect()}
    assert rows[1] == pseudo_embedding(b"IMG1x", 4)
    assert all(0.0 <= v < 1.0 for v in rows[1]) and len(rows[1]) == 4
    assert rows[2] is None  # null payload -> null vector, not a crash

    # pluggable extractor
    out = media_feature_stage(df, dim=2, extractor=lambda b, d: [float(len(b))] * d)
    assert {r["asset_id"]: r["features"] for r in out.collect()}[1] == [5.0, 5.0]


def test_parse_robots_rules_agent_groups():
    from solrizer_spark.functions.urls import parse_robots_rules

    body = b"""# comment
User-agent: googlebot
Disallow: /google-only/

User-agent: *
Disallow: /private/
Disallow: /tmp/   # trailing comment
Disallow:
Crawl-delay: 10
"""
    # the empty Disallow line (allow-all) adds no rule
    assert parse_robots_rules(body)["disallow"] == ["/private/", "/tmp/"]
    # RFC 9309: a group naming the agent exactly SUPERSEDES the *
    # fallback (review fix — previously unioned with the * group)
    assert parse_robots_rules(body, agent="googlebot")["disallow"] == ["/google-only/"]
    assert parse_robots_rules(None) == {"disallow": [], "allow": []}
    assert parse_robots_rules(b"\xff\xfe garbage") == {"disallow": [], "allow": []}


def test_filter_robots_disallowed(spark):
    from solrizer_spark.functions.urls import filter_robots_disallowed

    df = spark.createDataFrame(
        [("https://a.com/private/x",), ("https://a.com/pub/x",),
         ("https://b.com/private/x",)],
        "url string",
    )
    robots = spark.createDataFrame(
        [("a.com", ["/private/"])], "domain string, disallow array<string>"
    )
    kept = {r["url"] for r in filter_robots_disallowed(df, robots).collect()}
    # b.com has no robots row -> unrestricted
    assert kept == {"https://a.com/pub/x", "https://b.com/private/x"}


def test_filter_robots_wildcards(spark):
    """RFC 9309 §2.2.3 wildcards: '*' matches any sequence, trailing
    '$' anchors end-of-path; a mid-pattern '$' is literal; regex
    metachars in rules never escape into the matcher (ADVICE r3:
    these were literal-prefix no-ops that silently under-blocked)."""
    from solrizer_spark.functions.urls import filter_robots_disallowed

    df = spark.createDataFrame(
        [(u,) for u in [
            "https://a.com/files/report.pdf",      # /*.pdf$ -> blocked
            "https://a.com/files/report.pdfx",     # $ anchor holds -> kept
            "https://a.com/a/sub/secret/x",        # /a/*/secret -> blocked
            "https://a.com/a/secret/x",            # no '/secret' after /a/<seg> -> kept
            "https://a.com/cart",                  # '/cart$' exact-path anchor -> blocked
            "https://a.com/cart/items",            # anchor holds -> kept
            "https://a.com/pri$ce/list",           # mid-pattern '$' literal -> blocked
            "https://a.com/price/list",            # kept
            "https://b.com/anything",              # 'Disallow: *' -> blocked
            "https://c.com/x.pdf",                 # no robots row -> kept
        ]],
        "url string",
    )
    robots = spark.createDataFrame(
        [("a.com", ["/*.pdf$", "/a/*/secret", "/cart$", "/pri$ce/"]),
         ("b.com", ["*"])],
        "domain string, disallow array<string>",
    )
    kept = {r["url"] for r in filter_robots_disallowed(df, robots).collect()}
    assert kept == {
        "https://a.com/files/report.pdfx",
        "https://a.com/a/secret/x",
        "https://a.com/cart/items",
        "https://a.com/price/list",
        "https://c.com/x.pdf",
    }


def test_filter_robots_query_string_target(spark):
    """RFC 9309 §2.2.2: rules match against path+query, not the bare
    path — '?' rules must be able to match, and a '$'-anchored rule
    must NOT block a url whose query extends past the anchor (review
    catch: matching ran on url_path, silently under/over-blocking)."""
    from solrizer_spark.functions.urls import filter_robots_disallowed

    df = spark.createDataFrame(
        [(u,) for u in [
            "https://a.com/item?sessionid=99",   # /*?sessionid= -> blocked
            "https://a.com/item?page=2",         # kept
            "https://a.com/cart",                # /cart$ exact -> blocked
            "https://a.com/cart?step=1",         # query past anchor -> kept
            "https://a.com/?sessionid=1",        # bare-host query -> blocked
        ]],
        "url string",
    )
    robots = spark.createDataFrame(
        [("a.com", ["/*?sessionid=", "/cart$"])],
        "domain string, disallow array<string>",
    )
    kept = {r["url"] for r in filter_robots_disallowed(df, robots).collect()}
    assert kept == {
        "https://a.com/item?page=2",
        "https://a.com/cart?step=1",
    }


def test_filter_robots_allow_precedence(spark):
    """RFC 9309 §2.2.2 most-specific-match: the longest matching rule
    wins, Allow winning length ties — an Allow re-opens a subtree of
    a Disallowed prefix."""
    from solrizer_spark.functions.urls import (
        filter_robots_disallowed,
        parse_robots_rules,
    )

    rules = parse_robots_rules(
        b"User-agent: *\nDisallow: /private/\nAllow: /private/public/\n"
        b"Disallow: /page\nAllow: /page\nAllow:\n"
    )
    assert rules == {
        "disallow": ["/private/", "/page"],
        "allow": ["/private/public/", "/page"],
    }
    df = spark.createDataFrame(
        [(u,) for u in [
            "https://a.com/private/x",          # disallow only -> blocked
            "https://a.com/private/public/x",   # longer allow -> kept
            "https://a.com/page/sub",           # equal length, allow ties -> kept
            "https://a.com/open",               # no match -> kept
            "https://b.com/private/x",          # no robots row -> kept
        ]],
        "url string",
    )
    robots = spark.createDataFrame(
        [("a.com", rules["disallow"], rules["allow"])],
        "domain string, disallow array<string>, allow array<string>",
    )
    kept = {r["url"] for r in filter_robots_disallowed(df, robots).collect()}
    assert kept == {
        "https://a.com/private/public/x",
        "https://a.com/page/sub",
        "https://a.com/open",
        "https://b.com/private/x",
    }


def test_filter_robots_disallow_column_collision(spark):
    """An input df already carrying a 'disallow' column must neither
    hit an ambiguous-column error nor lose the column (ADVICE r3)."""
    from solrizer_spark.functions.urls import filter_robots_disallowed

    df = spark.createDataFrame(
        [("https://a.com/private/x", "keep-me-1"),
         ("https://a.com/pub/x", "keep-me-2")],
        "url string, disallow string",
    )
    robots = spark.createDataFrame(
        [("a.com", ["/private/"])], "domain string, disallow array<string>"
    )
    out = filter_robots_disallowed(df, robots).collect()
    assert [(r["url"], r["disallow"]) for r in out] == [
        ("https://a.com/pub/x", "keep-me-2")
    ]
