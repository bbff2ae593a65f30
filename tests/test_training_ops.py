"""Unit tests for the training-data operators (dedup, similarity,
text analysis, multimodal plumbing)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different text about spark engines and shuffles"),
        (5, "unrelated words entirely carrots potatoes turnips onions peppers"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_explode_bucket_pairs_matches_combinations(spark):
    """The codegen double-explode pair generator emits EXACTLY the
    (i<j) pairs of each member array, in member order — scalar members
    and struct members, including 2-member buckets and the
    last-element empty-slice edge."""
    import itertools

    from solrizer_spark.operators.dedup import explode_bucket_pairs

    buckets = [(1, [1, 2, 3, 4]), (2, [7, 8]), (3, [5, 6, 7])]
    df = spark.createDataFrame(buckets, "b int, ids array<int>")
    want = sorted(p for _, ids in buckets for p in itertools.combinations(ids, 2))
    new = sorted(tuple(r) for r in explode_bucket_pairs(df, "ids").collect())
    assert new == want
    assert len(new) == 6 + 1 + 3

    sdf = spark.createDataFrame(
        [([(1, 10), (2, 20), (3, 30)],)],
        "members array<struct<_id int, _sh int>>",
    )
    got = sorted(
        (r["a"]["_id"], r["b"]["_sh"])
        for r in explode_bucket_pairs(sdf, "members").collect()
    )
    assert got == [(1, 20), (1, 30), (2, 30)]


def test_word_shingles(spark):
    from solrizer_spark.operators.dedup import word_shingles

    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    got = df.select(word_shingles("text", 3).alias("s")).collect()
    assert got[0].s == ["a b c", "b c d"]
    assert got[1].s == ["a b"]  # shorter than n → whole text


def test_minhash_lsh_finds_near_dups_not_strangers(docs):
    from solrizer_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        docs, shingle_n=2, num_hashes=32, bands=16, threshold=0.4
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found  # identical
    assert (1, 3) in found and (2, 3) in found  # near dup
    assert all(4 not in p and 5 not in p for p in found)


def test_simhash_properties(docs):
    from solrizer_spark.operators.dedup import simhash

    rows = docs.select("doc_id", simhash("text", bits=32).alias("sh")).collect()
    by_id = {r.doc_id: r.sh for r in rows}
    assert by_id[1] == by_id[2]  # identical text → identical fingerprint
    ham13 = bin(by_id[1] ^ by_id[3]).count("1")
    ham15 = bin(by_id[1] ^ by_id[5]).count("1")
    assert ham13 < ham15  # near dup closer than stranger


def test_simhash_near_dup_pairs(docs):
    from solrizer_spark.operators.dedup import simhash_near_dup_pairs

    pairs = simhash_near_dup_pairs(docs, bits=32, max_hamming=6, chunks=8).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found
    assert (4, 5) not in found


def test_cosine_and_topk(spark):
    from solrizer_spark.operators.similarity import brute_force_topk, cosine

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = df.select(cosine(F.col("embedding"), F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0))).alias("c")).collect()
    assert got[0].c == pytest.approx(1.0)
    assert got[3].c == pytest.approx(-1.0)
    top = brute_force_topk(df, [1.0, 0.0, 0.0], k=2).collect()
    assert [r.vec_id for r in top] == [1, 2]


def test_lsh_bucket_scale_invariant(spark):
    """Scaled vectors land in the same hyperplane bucket (sign-based)."""
    from solrizer_spark.operators.similarity import hyperplane_bucket

    rows = [(1, [0.5, -0.2, 0.8, 0.1]), (2, [1.0, -0.4, 1.6, 0.2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = df.select(hyperplane_bucket(F.col("embedding"), 6, 4).alias("b")).collect()
    assert got[0].b == got[1].b


def test_embedding_near_dup_pairs(spark):
    from solrizer_spark.operators.similarity import embedding_near_dup_pairs

    base = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)]) for i in range(1, 6)]
    dups = [(i + 100, [x * 1.001 for x in v]) for i, v in base[:2]]
    df = spark.createDataFrame(base + dups, "vec_id long, embedding array<float>")
    pairs = embedding_near_dup_pairs(df, threshold=0.9999, dims=8, band_bits=4, bands=4).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 101) in found and (2, 102) in found
    assert all(r.cos_sim == pytest.approx(1.0) for r in pairs)


def test_langid_and_quality(spark):
    from solrizer_spark.functions.text_stats import langid, quality_score

    rows = [
        (1, "the cat is in the house and it is warm for now"),
        (2, "der hund ist nicht in das haus und die katze"),
        (3, "el perro es un animal y la casa es grande por los campos"),
        (4, "xyzzy plugh qwerty asdf zxcv"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.p for r in df.select("doc_id", langid("text").alias("p")).collect()}
    assert got[1] == "en" and got[2] == "de" and got[3] == "es"
    assert got[4] == "und"
    q = {r.doc_id: r.q for r in df.select("doc_id", quality_score("text").alias("q")).collect()}
    assert q[1] > q[4]  # english prose scores above junk


def test_fingerprint_deterministic(spark):
    from solrizer_spark.functions.text_stats import rolling_fingerprint

    df = spark.createDataFrame([("abc",), ("abc",), ("abd",)], "text string")
    got = [r.f for r in df.select(rolling_fingerprint("text").alias("f")).collect()]
    assert got[0] == got[1] == 1677554  # pinned cross-engine value
    assert got[2] != got[0]


def test_multimodal_metadata_and_stub(spark):
    from solrizer_spark.operators.multimodal import (
        media_metadata_stage,
        parse_media_header,
    )

    rows = [
        (1, b"IMG10006400004803payload-bytes"),
        (2, b"AUD10441000001234567somebytes"),
        (3, b"VID10012800009600050movie"),
        (4, b"JUNKnotvalid"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    out = {r.asset_id: r.media_meta for r in media_metadata_stage(df).collect()}
    assert out[1].kind == "image" and out[1].width == 640 and out[1].height == 480
    assert out[2].kind == "audio" and out[2].sample_rate == 44100
    assert out[3].kind == "video" and out[3].n_frames == 50
    assert out[4].valid is False and out[5].valid is False
    assert parse_media_header(b"IMG1000640000480" + b"3")["valid"] is True


def test_frame_sample_fanout(spark):
    from solrizer_spark.operators.multimodal import frame_sample_stage

    df = spark.createDataFrame(
        [(7, b"VID1000640000480" + b"0025" + b"x" * 10)],
        "asset_id long, payload binary",
    )
    frames = frame_sample_stage(df, every_n=10).collect()
    assert [r.frame_index for r in frames] == [0, 10, 20]
    assert len({r.frame_fingerprint for r in frames}) == 3


def test_url_functions(spark):
    from solrizer_spark.functions.urls import (
        normalize_url,
        registered_domain,
        url_host,
        url_path_depth,
    )

    rows = [
        ("HTTP://WWW.Example.COM:80/a/b/?z=3&a=1#frag",),
        ("https://sub.site.co.uk/path/page",),
        ("http://example.com",),
    ]
    df = spark.createDataFrame(rows, "url string")
    got = df.select(
        url_host("url").alias("h"),
        registered_domain("url").alias("d"),
        url_path_depth("url").alias("n"),
        normalize_url("url").alias("c"),
    ).collect()
    assert got[0].h == "www.example.com"
    assert got[0].d == "example.com"
    assert got[0].n == 2
    assert got[0].c == "http://www.example.com/a/b?a=1&z=3"
    assert got[1].d == "site.co.uk"
    assert got[2].c == "http://example.com/"


def test_winnowing_guarantee(spark):
    """Two docs sharing a long substring share a fingerprint; a
    disjoint doc shares none."""
    from pyspark.sql import functions as F

    from solrizer_spark.functions.text_stats import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, "PREFIX " + shared + " SUFFIX A"),
        (2, "other opening " + shared + " different ending"),
        (3, "zzz completely unrelated content qqq vvv kkk yyy www"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: set(r.f) for r in df.select(
        "doc_id", winnow_fingerprints("text", k=8, window=4).alias("f")).collect()}
    assert got[1] & got[2]  # shared substring ⇒ shared fingerprint
    assert not (got[1] & got[3])


def test_ivf_topk_recovers_bruteforce_neighbors(spark):
    """With enough probes the IVF result equals brute force; with one
    probe it is a subset of the probed cell."""
    from solrizer_spark.operators.similarity import brute_force_topk, ivf_topk

    rows = [(i, [float((i * 3 + d) % 7 - 3) for d in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    centroids = [r[1] for r in rows[:4]]
    q = rows[5][1]
    exact = [r.vec_id for r in brute_force_topk(df, q, k=5).collect()]
    full_probe = [r.vec_id for r in ivf_topk(df, q, centroids, k=5, nprobe=4).collect()]
    assert full_probe == exact  # probing all cells == brute force
    one_probe = ivf_topk(df, q, centroids, k=5, nprobe=1).collect()
    assert 0 < len(one_probe) <= 5


def test_bpe_token_count(spark):
    from solrizer_spark.functions.text_stats import bpe_token_count

    df = spark.createDataFrame([("Hello, world! 42x",)], "text string")
    # runs: Hello / , / world / ! / 42 / x  → 6
    assert df.select(bpe_token_count("text").alias("n")).first().n == 6


def test_hash_sampling_deterministic_and_stratified(spark):
    from solrizer_spark.operators.sampling import hash_sample, stratified_hash_sample

    rows = [(i, str(i), "en" if i % 2 else "de") for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, key string, lang string")
    s1 = {r.id for r in hash_sample(df, "key", 0.3).collect()}
    s2 = {r.id for r in hash_sample(df, "key", 0.3).collect()}
    assert s1 == s2  # reproducible
    assert 200 < len(s1) < 400  # ≈30%
    assert hash_sample(df, "key", 0.3, salt="other") .count() != 0
    strat = stratified_hash_sample(df, "key", "lang", {"en": 1.0, "de": 0.0})
    got = strat.groupBy("lang").count().collect()
    by = {r.lang: r["count"] for r in got}
    assert by.get("en") == 500 and "de" not in by


def test_degenerate_bucket_cap_bounds_members_and_memory(spark, monkeypatch):
    """A pathological cluster (10^5 identical docs → one LSH bucket in
    every band) must (a) complete, (b) emit exactly C(cap,2) pairs over
    the cap lowest ids, and (c) on the distributed path, cap rows
    BEFORE the aggregation so the collect_list buffer never holds the
    whole bucket (the plan's row_number filter sits below the
    aggregate). The driver path caps in numpy, to the same pairs."""
    from solrizer_spark.operators import dedup

    n, cap = 100_000, 8
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("boilerplate empty page placeholder text repeated verbatim").alias("text"),
    )
    kw = dict(shingle_n=3, num_hashes=16, bands=4, threshold=0.5, max_bucket=cap)
    on_driver = sorted(map(tuple, dedup.minhash_lsh_pairs(docs, **kw).collect()))
    monkeypatch.setattr(dedup, "DRIVER_LSH_MAX_BYTES", 0)
    pairs_df = dedup.minhash_lsh_pairs(docs, **kw)
    plan = pairs_df._jdf.queryExecution().executedPlan().toString()
    assert "row_number" in plan  # pre-aggregation cap present
    pairs = pairs_df.collect()
    assert len(pairs) == cap * (cap - 1) // 2
    ids = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert ids == set(range(cap))  # deterministic: the cap lowest ids
    assert all(r.jaccard_sim == 1.0 for r in pairs)
    assert sorted(map(tuple, pairs)) == on_driver


def test_simhash_bucket_cap_pre_aggregation(spark):
    """Same bounded-bucket guarantee for the SimHash pigeonhole path."""
    from solrizer_spark.operators.dedup import simhash_near_dup_pairs

    n, cap = 20_000, 6
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical fingerprint text for every row").alias("text"),
    )
    pairs = simhash_near_dup_pairs(
        docs, bits=32, max_hamming=3, chunks=4, max_bucket=cap
    ).collect()
    assert len(pairs) == cap * (cap - 1) // 2
    ids = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert ids == set(range(cap))
    assert all(r.hamming == 0 for r in pairs)


def test_connected_components_chains_and_keep_canonical(spark):
    """Component labels must cross multi-hop chains (diameter > 1),
    and dedup_keep_canonical keeps exactly one doc per cluster."""
    from solrizer_spark.operators.dedup import (
        connected_components,
        dedup_keep_canonical,
    )

    # chain 1-2-3-4-5 (diameter 4), pair {10,11}, singleton 20 (no edges)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    comps = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in [1, 2, 3, 4, 5, 10, 11, 20]],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in dedup_keep_canonical(docs, connected_components(pairs)).collect()
    )
    assert kept == [1, 10, 20]  # one per cluster + untouched singleton


def test_decontaminate_flags_benchmark_overlap(spark):
    from solrizer_spark.operators.decontam import flag_contaminated

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "totally unrelated words with no benchmark overlap here at all"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("beta gamma delta epsilon zeta eta theta iota",)], "text string"
    )
    out = {r.doc_id: (r.n_matched, r.contaminated) for r in
           flag_contaminated(docs, bench, n=8).collect()}
    assert out[1] == (1, True)   # the 8-gram appears verbatim
    assert out[2] == (0, False)
    assert out[3] == (0, False)


def test_scrub_pii_and_normalize(spark):
    from solrizer_spark.functions.scrub import normalize_text, pii_counts, scrub_pii

    df = spark.createDataFrame(
        [("mail a.b+c@sub.example.co.uk ip 192.168.0.1 tel 555-123-4567 end",),
         ("no pii here",)],
        "text string",
    )
    rows = df.select(
        scrub_pii("text").alias("s"), pii_counts("text").alias("c")
    ).collect()
    assert rows[0].s == "mail [EMAIL] ip [IP] tel [PHONE] end"
    assert (rows[0].c.n_emails, rows[0].c.n_ips, rows[0].c.n_phones) == (1, 1, 1)
    assert rows[1].s == "no pii here"
    assert (rows[1].c.n_emails, rows[1].c.n_ips, rows[1].c.n_phones) == (0, 0, 0)

    ndf = spark.createDataFrame([("  a\t\tb \x01 c  \n",)], "text string")
    assert ndf.select(normalize_text("text").alias("n")).first().n == "a b c"


def test_topk_per_group_and_pack_sequences(spark):
    from pyspark.sql import functions as F

    from solrizer_spark.operators.sampling import pack_sequences, topk_per_group

    df = spark.createDataFrame(
        [(1, "en", 10), (2, "en", 30), (3, "en", 20), (4, "de", 5), (5, "de", 7)],
        "doc_id long, lang string, score long",
    )
    top = topk_per_group(df, "lang", [F.col("score").desc(), F.col("doc_id")], k=2)
    got = {(r.lang, r.group_rank): r.doc_id for r in top.collect()}
    assert got == {("en", 1): 2, ("en", 2): 3, ("de", 1): 5, ("de", 2): 4}

    tok = spark.createDataFrame(
        [(1, "en", 3000), (2, "en", 2000), (3, "en", 2000), (4, "en", 100)],
        "doc_id long, lang string, n_tokens long",
    )
    packed = {r.doc_id: (r.bin_id, r.bin_offset) for r in
              pack_sequences(tok, "lang", [F.col("doc_id")], "n_tokens", 4096).collect()}
    # preceding cumsums: 0, 3000, 5000, 7000 → bins 0,0,1,1
    assert packed == {1: (0, 0), 2: (0, 3000), 3: (1, 904), 4: (1, 2904)}


def test_repetition_signals(spark):
    from solrizer_spark.functions.text_stats import dup_line_fraction, top_ngram_fraction

    df = spark.createDataFrame(
        [("a b\na b\nc d", "x y x y x y z"), ("one\ntwo", "all distinct words here")],
        "lines string, text string",
    )
    rows = df.select(
        dup_line_fraction("lines").alias("dlf"),
        top_ngram_fraction("text", 2).alias("tbf"),
    ).collect()
    assert abs(rows[0].dlf - (1 - 2 / 3)) < 1e-6   # 'a b' repeats
    assert abs(rows[0].tbf - 3 * 2 / 7) < 1e-6     # 'x y' ×3 of 7 tokens
    assert rows[1].dlf == 0.0
    assert abs(rows[1].tbf - 2 / 4) < 1e-6         # every bigram unique


def test_dedup_against_base_incremental(spark):
    """Incremental dedup: exact + near dups of the base are dropped,
    fresh/null rows pass, and new-vs-new duplicates are kept (within-
    increment dedup composes separately)."""
    from solrizer_spark.operators.dedup import dedup_against_base

    body = ("the quick brown fox jumps over the lazy dog and then sleeps "
            "in the warm afternoon sun for a while longer")
    base = spark.createDataFrame(
        [(1, body), (2, "a completely different base document about other topics "
                        "with many of its own words to compare against")],
        ["doc_id", "text"],
    )
    near = " ".join(body.split()[:-1])  # drop last word: jaccard ~0.95
    new = spark.createDataFrame(
        [
            (10, body),                       # exact dup of base 1
            (11, near),                       # near dup of base 1
            (12, "an entirely fresh incremental document bringing brand new "
                 "vocabulary nothing shares with the existing corpus at all"),
            (13, None),                       # null text: passes
            (14, "an entirely fresh incremental document bringing brand new "
                 "vocabulary nothing shares with the existing corpus at all"),
        ],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in dedup_against_base(new, base).collect()}
    assert kept == {12, 13, 14}  # 14 = new-vs-new dup of 12, kept
    # exact-only mode keeps the near dup
    kept_exact = {r["doc_id"]
                  for r in dedup_against_base(new, base, threshold=None).collect()}
    assert kept_exact == {11, 12, 13, 14}


def test_dedup_against_base_string_ids(spark):
    """Review regression: curate's default id is the url STRING — the
    old numeric parity remap crashed under ANSI. Side-tagged keys
    must handle any id type."""
    from solrizer_spark.operators.dedup import dedup_against_base

    body = ("the quick brown fox jumps over the lazy dog and then sleeps "
            "in the warm afternoon sun for a while longer")
    base = spark.createDataFrame(
        [("https://a.org/1", body)], ["url", "text"]
    )
    new = spark.createDataFrame(
        [("https://b.org/x", body),                      # exact dup
         ("https://b.org/y", " ".join(body.split()[:-1])),  # near dup
         ("https://b.org/z", "fresh words entirely unrelated to anything "
                             "in the base corpus with new vocabulary")],
        ["url", "text"],
    )
    kept = {r["url"] for r in
            dedup_against_base(new, base, id_col="url").collect()}
    assert kept == {"https://b.org/z"}


def test_kmeans_fit_recovers_separated_clusters(spark):
    """Three orthogonal direction-clusters with small jitter: Lloyd's
    must assign each group to one cell, and the trained centroids
    must point at the group directions (spherical k-means)."""
    from solrizer_spark.operators.similarity import (
        assign_ivf_cell_sim,
        kmeans_fit,
    )

    rows = []
    for i in range(30):
        base = [0.0, 0.0, 0.0]
        base[i % 3] = 1.0
        base[(i % 3 + 1) % 3] = 0.01 * (i % 5)  # jitter, keeps direction
        rows.append((i, base))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=3, n_iter=4)
    assert len(cents) == 3 and all(len(c) == 3 for c in cents)
    # each centroid is ~unit-norm and dominated by one axis
    import math

    for c in cents:
        assert abs(math.sqrt(sum(x * x for x in c)) - 1.0) < 1e-9
        assert max(c) > 0.9
    # assignment groups the three directions into three distinct cells
    out = df.select(
        "vec_id", assign_ivf_cell_sim(F.col("embedding"), cents)["cell"].alias("cell")
    ).collect()
    by_dir = {}
    for r in out:
        by_dir.setdefault(r["vec_id"] % 3, set()).add(r["cell"])
    assert all(len(cells) == 1 for cells in by_dir.values())
    assert len(set.union(*by_dir.values())) == 3


def test_kmeans_fit_deterministic_init_and_empty_cells(spark):
    """Same data → same centroids (hash-seeded init, fixed rounds);
    a cell that captures nothing keeps its previous centroid instead
    of collapsing to zeros."""
    from solrizer_spark.operators.similarity import kmeans_fit

    rows = [(i, [1.0, 0.0]) for i in range(5)] + [(9, [0.9999, 0.0001])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = kmeans_fit(df, k=2, n_iter=3)
    b = kmeans_fit(df.repartition(7), k=2, n_iter=3)
    assert len(a) == len(b) == 2
    # identical input → identical result regardless of partitioning of
    # the INIT scan (total-order seed); centroid values agree to float
    # noise (sum order may differ across partitionings)
    for ca, cb in zip(a, b):
        assert all(abs(x - y) < 1e-9 for x, y in zip(ca, cb))
    # all points sit in one direction: one cell ends empty and must
    # retain a usable (finite, non-zero) centroid
    import math

    for c in a:
        assert all(math.isfinite(x) for x in c)
        assert math.sqrt(sum(x * x for x in c)) > 0.5


def test_assign_ivf_cell_scales_past_k16(spark):
    """The original when-chain argmax referenced best_sim twice per
    step — an O(2^k) expression tree that OOM'd the planner at k=16.
    The array-argmax form is linear in k: k=24 must plan and run."""
    from solrizer_spark.operators.similarity import assign_ivf_cell_sim

    import math

    cents = []
    for j in range(24):
        v = [math.sin(j * 17 + d) for d in range(8)]
        n = math.sqrt(sum(x * x for x in v))
        cents.append([x / n for x in v])
    df = spark.createDataFrame(
        [(i, cents[i % 24]) for i in range(48)],
        "vec_id long, embedding array<double>",
    )
    out = df.select(
        "vec_id", F.col("embedding"),
        assign_ivf_cell_sim(F.col("embedding"), cents).alias("a"),
    ).select("vec_id", F.col("a.cell").alias("cell"), F.col("a.sim").alias("sim")).collect()
    # every vector IS one of the centroids → assigned to itself, sim ~1
    for r in out:
        assert r["cell"] == r["vec_id"] % 24
        assert abs(r["sim"] - 1.0) < 1e-9


def test_assign_cells_join_equals_literal_path(spark):
    """The broadcast-join argmax (large-k path) must reproduce the
    literal-expression assignment exactly — same winner, same
    lowest-cell tie-break, same cosine."""
    import math

    from solrizer_spark.operators.similarity import (
        assign_cells_join,
        assign_ivf_cell_sim,
    )

    cents = []
    for j in range(40):
        v = [math.cos(j * 13 + d * 7) for d in range(8)]
        n = math.sqrt(sum(x * x for x in v))
        cents.append([x / n for x in v])
    # duplicate centroid 39 == centroid 7 → exact tie, lowest cell wins
    cents[39] = list(cents[7])
    rows = [(i, [math.sin(i + d) for d in range(8)]) for i in range(60)]
    rows.append((1000, list(cents[7])))  # lands exactly on the tie pair
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    lit = df.select(
        "vec_id", assign_ivf_cell_sim(F.col("embedding"), cents).alias("a")
    ).select("vec_id", F.col("a.cell").alias("cell"), F.col("a.sim").alias("sim"))
    join = assign_cells_join(df, cents)
    got_l = {r["vec_id"]: (r["cell"], r["sim"]) for r in lit.collect()}
    join_rows = join.collect()
    assert len(join_rows) == len(rows)  # one row per vector: no dup, no drop
    got_j = {r["vec_id"]: (r["cell"], r["sim"]) for r in join_rows}
    assert got_l == got_j
    assert got_j[1000][0] == 7  # tie resolved to the LOWEST cell
