"""The documented 10^12-scale dedup paths, exercised for real:

* ``signatures_path`` (write-signatures-to-table instead of executor
  persist) produces pair-identical output, including through the
  ``job.py --dedup near`` surface;
* ``connected_components`` matches a union-find reference on both of
  its paths — the numpy labelling of small pair lists on the driver,
  and large-star/small-star (Kiveris et al. SoCC'14), forced by
  setting ``DRIVER_CC_MAX_PAIRS`` to 0 — and star converges on a long
  chain within a small round budget;
* star non-convergence is surfaced (stats flag + warning), not
  silent;
* ``minhash_lsh_pairs`` returns the same rows on its driver path and
  its distributed Arrow-stage path (forced by setting
  ``DRIVER_LSH_MAX_BYTES`` below 0): string ids in Spark's order, null,
  empty and short texts, a binding bucket cap, a candidate filter.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _pairs_df(spark, edges):
    return spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )


def _labels(df):
    return sorted((r["id"], r["component"]) for r in df.collect())


def _expected_components(edges):
    """Reference union-find in plain Python."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((x, find(x)) for x in parent)


TOPOLOGIES = {
    "two_cliques": [(1, 2), (1, 3), (2, 3), (10, 11), (11, 12)],
    "chain_diameter_11": [(i, i + 1) for i in range(1, 12)],
    "star_plus_chain": [(1, 50), (1, 60), (1, 70), (2, 3), (3, 4), (4, 5)],
    "self_pairs_and_dups": [(5, 6), (6, 5), (5, 6), (7, 7), (7, 8)],
}


CC_PATHS = ["driver", "star"]


def _force_star(monkeypatch):
    """Set the driver bound to 0: every pair list takes the star path."""
    from solrizer_spark.operators import dedup

    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_PAIRS", 0)


def _force_distributed(monkeypatch):
    """Set the LSH driver bound below 0: every input, one of 0 text
    bytes too, takes the distributed Arrow-stage path."""
    from solrizer_spark.operators import dedup

    monkeypatch.setattr(dedup, "DRIVER_LSH_MAX_BYTES", -1)


@pytest.fixture()
def cc_path(request, monkeypatch):
    """The connected_components path under test: ``driver`` runs as
    shipped (these pair lists are far below the bound), ``star`` is
    forced."""
    if request.param == "star":
        _force_star(monkeypatch)
    return request.param


@pytest.mark.parametrize("name", sorted(TOPOLOGIES))
@pytest.mark.parametrize("cc_path", CC_PATHS, indirect=True)
def test_cc_matches_union_find(spark, name, cc_path):
    from solrizer_spark.operators.dedup import connected_components

    edges = TOPOLOGIES[name]
    stats = {}
    got = _labels(connected_components(_pairs_df(spark, edges), stats=stats))
    assert got == _expected_components(edges)
    assert stats["path"] == cc_path
    assert stats["pairs"] == len(edges)
    assert stats["converged"] is True
    assert (stats["rounds"] == 0) == (cc_path == "driver")


@pytest.mark.parametrize("cc_path", CC_PATHS, indirect=True)
def test_cc_leaves_no_persisted_rdd(spark, cc_path):
    """Nothing CC materializes outlives the call but the returned
    labels: none on the driver path, star's label checkpoint, freed
    by ``release``."""
    from solrizer_spark.operators.dedup import connected_components
    from solrizer_spark.session import release

    def persisted():
        # ids, not a count: the context cleaner may free RDDs that
        # earlier tests left behind while this one runs
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    out = connected_components(_pairs_df(spark, TOPOLOGIES["star_plus_chain"]))
    held = persisted() - before
    assert len(held) == (0 if cc_path == "driver" else 1)
    out.collect()
    release(out)
    assert not persisted() & held


def test_cc_star_converges_on_long_chain(spark, monkeypatch):
    """A 16-hop chain needs ~16 min-label propagation rounds; the star
    algorithm contracts it within a round budget of 6."""
    from solrizer_spark.operators.dedup import connected_components

    _force_star(monkeypatch)
    edges = [(i, i + 1) for i in range(1, 17)]
    stats = {}
    star = connected_components(
        _pairs_df(spark, edges), max_iterations=6, stats=stats
    )
    assert stats["path"] == "star"
    assert stats["converged"] is True
    assert stats["rounds"] <= 6
    assert _labels(star) == _expected_components(edges)


def test_cc_strict_raises_on_nonconvergence(spark, monkeypatch, caplog):
    """The same chain cut at 3 rounds does not converge, and that is
    never silent. There is no ``strict=`` flag any more: the caller
    reads ``converged=False`` from the stats (and raises if it must),
    and a warning naming the round budget is logged."""
    from solrizer_spark.operators import dedup

    _force_star(monkeypatch)
    edges = [(i, i + 1) for i in range(1, 17)]
    stats = {}
    with caplog.at_level("WARNING", logger=dedup.__name__):
        dedup.connected_components(
            _pairs_df(spark, edges), max_iterations=3, stats=stats
        ).collect()
    assert stats == {"path": "star", "pairs": 16, "rounds": 3, "converged": False}
    assert "did not converge" in caplog.text
    with pytest.raises(TypeError):
        dedup.connected_components(_pairs_df(spark, edges), strict=True)


# url ids, including non-ASCII ones: the component is the minimum id
# in Spark's string order (UTF-8 bytes, so "é" sorts after "z")
URL_PAIRS = [
    ("u/b", "u/a"), ("u/b", "u/c"), ("u/x", "u/y"),
    ("https://é.example/b", "https://z.example/a"),
    ("https://ü.example/", "https://u.example/"),
    ("https://ü.example/", "https://日本.example/"),
]
URL_LABELS = [
    ("https://u.example/", "https://u.example/"),
    ("https://z.example/a", "https://z.example/a"),
    ("https://é.example/b", "https://z.example/a"),
    ("https://ü.example/", "https://u.example/"),
    ("https://日本.example/", "https://u.example/"),
    ("u/a", "u/a"), ("u/b", "u/a"), ("u/c", "u/a"),
    ("u/x", "u/x"), ("u/y", "u/x"),
]


def _check_string_ids(spark):
    from solrizer_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(URL_PAIRS, "id_a string, id_b string")
    out = connected_components(pairs)
    assert out.schema.simpleString() == "struct<id:string,component:string>"
    assert _labels(out) == URL_LABELS


def test_cc_string_ids_star(spark, monkeypatch):
    _force_star(monkeypatch)
    _check_string_ids(spark)


def test_cc_string_ids_driver(spark):
    _check_string_ids(spark)


@pytest.mark.parametrize("cc_path", CC_PATHS, indirect=True)
def test_cc_runs_pair_lineage_once(spark, cc_path):
    """The caller's pair frame is computed once, however many edge
    frames read it: every row passing through a counting
    ``mapInPandas`` is counted once per time its lineage runs."""
    from solrizer_spark.operators.dedup import connected_components

    edges = TOPOLOGIES["star_plus_chain"]
    seen = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    pairs = _pairs_df(spark, edges).mapInPandas(counted, "id_a long, id_b long")
    got = _labels(connected_components(pairs))
    assert got == _expected_components(edges)
    assert seen.value == len(edges)


def test_cc_empty_pairs(spark, monkeypatch):
    from solrizer_spark.operators.dedup import connected_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    for path in CC_PATHS:
        if path == "star":
            _force_star(monkeypatch)
        stats = {}
        out = connected_components(empty, stats=stats)
        assert out.count() == 0
        assert stats["path"] == path
        assert stats["pairs"] == 0
        assert stats["converged"] is True


def test_cc_driver_long_chain(spark):
    """A 10^5-node chain, its ids scrambled by a bijection, is one
    component on the driver path; the numpy labelling takes
    O(log² n) vectorized passes, not one per hop."""
    import math

    import numpy as np

    from solrizer_spark.operators.dedup import _driver_labels, connected_components

    n = 100_000

    def scramble(c):
        return (c * 7919) % n  # 7919 is prime, so coprime to n

    pairs = spark.range(n - 1).select(
        scramble(F.col("id")).alias("id_a"), scramble(F.col("id") + 1).alias("id_b")
    )
    stats = {}
    out = connected_components(pairs, stats=stats)
    assert stats == {"path": "driver", "pairs": n - 1, "rounds": 0, "converged": True}
    got = out.agg(F.count("id"), F.countDistinct("id"), F.max("component")).first()
    assert tuple(got) == (n, n, 0)

    order = np.random.default_rng(0).permutation(n)
    root, passes = _driver_labels(order[:-1], order[1:], n)
    assert (root == 0).all()
    assert passes <= math.ceil(math.log2(n)) ** 2


@pytest.mark.parametrize("cc_path", CC_PATHS, indirect=True)
def test_q_dedup_clusters_matches_union_find(spark, cc_path, tmp_path):
    """The ``dedup_clusters`` registry query (chains of diameter 4
    plus disjoint pairs) against the union-find reference, over a
    ``documents`` table of 200 doc ids."""
    import __spark_entry__ as em

    ids = list(range(200))
    spark.range(200).withColumnRenamed("id", "doc_id").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    edges = [(i, i + 1) for i in ids if i % 16 < 4]
    edges += [(i, i + 2) for i in ids if i % 16 in (8, 9)]
    got = _labels(em.q_dedup_clusters(spark, str(tmp_path)))
    assert got == _expected_components(edges)


def _near_dup_docs(spark, n=40):
    """Docs where ids 3k/3k+1 are near-identical and 3k+2 is distinct."""
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta eta theta grp"),
            (F.col("id") / 3).cast("long").cast("string"),
            F.when(F.col("id") % 3 == 2, F.lit(" wholly different tail of words here"))
            .otherwise(F.concat(F.lit(" tail"), (F.col("id") % 3).cast("string"))),
        ).alias("text"),
    )
    return base


def test_signatures_path_pairs_identical(spark, tmp_path):
    from solrizer_spark.operators.dedup import minhash_lsh_pairs

    docs = _near_dup_docs(spark)
    kw = dict(id_col="doc_id", text_col="text", threshold=0.5)
    persisted = minhash_lsh_pairs(docs, **kw)
    to_table = minhash_lsh_pairs(docs, signatures_path=str(tmp_path / "sigs"), **kw)
    a = sorted(map(tuple, persisted.collect()))
    b = sorted(map(tuple, to_table.collect()))
    assert a == b
    assert len(a) > 0
    # the signatures actually went to the table
    import os

    assert any(f.endswith(".parquet") for f in os.listdir(tmp_path / "sigs"))


def test_job_near_dedup_signatures_and_star(spark, corpus_dir, tmp_path, monkeypatch):
    """job.py --dedup near via the scale paths: signatures-to-table +
    star CC (driver bound forced to 0) give byte-identical surviving
    docs vs the default path, and the run stats carry the CC path and
    convergence flag."""
    from job import run_job

    out_a = str(tmp_path / "out_default")
    out_b = str(tmp_path / "out_scale")
    stats_a = run_job(
        spark, f"{corpus_dir}/pages", out_a, n_buckets=16, dedup="near"
    )
    _force_star(monkeypatch)
    stats_b = run_job(
        spark,
        f"{corpus_dir}/pages",
        out_b,
        n_buckets=16,
        dedup="near",
        near_signatures_path=str(tmp_path / "sigs"),
    )
    assert stats_a["near_dedup"]["converged"] is True
    assert stats_b["near_dedup"]["converged"] is True
    assert stats_a["near_dedup"]["path"] == "driver"
    assert stats_b["near_dedup"]["path"] == "star"
    assert stats_a["near_dedup"]["pairs"] == stats_b["near_dedup"]["pairs"]
    # signatures_path takes the distributed LSH path, whatever the size
    assert stats_a["near_dedup"]["lsh"]["path"] == "driver"
    assert stats_b["near_dedup"]["lsh"]["path"] == "distributed"
    assert stats_a["near_dedup"]["lsh"]["docs"] == stats_b["near_dedup"]["lsh"]["docs"] > 0
    da = spark.read.parquet(f"{out_a}/docs").select("url", "extracted_text")
    db = spark.read.parquet(f"{out_b}/docs").select("url", "extracted_text")
    assert sorted(map(tuple, da.collect())) == sorted(map(tuple, db.collect()))
    assert stats_a["n_docs"] == stats_b["n_docs"] > 0


def test_cc_star_lone_self_pair(spark, monkeypatch):
    """A node whose ONLY edge is a self-pair must still get a label row
    (review regression: star dropped self-loops before labeling)."""
    from solrizer_spark.operators.dedup import connected_components

    _force_star(monkeypatch)
    pairs = spark.createDataFrame([(7, 7), (1, 2)], "id_a long, id_b long")
    got = _labels(connected_components(pairs))
    assert got == [(1, 1), (2, 1), (7, 7)]


def test_cc_star_nonconverged_one_row_per_id(spark, monkeypatch, caplog):
    """Exhausting the round budget must still yield structurally valid
    labels: exactly one row per id (review regression: mid-contraction
    edge lists produced duplicate ids with conflicting components).
    And it is never silent: the stats say ``converged=False`` and a
    warning is logged."""
    from solrizer_spark.operators import dedup

    _force_star(monkeypatch)
    edges = [(i, i + 1) for i in range(1, 40)]
    stats = {}
    with caplog.at_level("WARNING", logger=dedup.__name__):
        out = dedup.connected_components(
            _pairs_df(spark, edges), max_iterations=1, stats=stats
        ).collect()
    ids = [r["id"] for r in out]
    assert len(ids) == len(set(ids)) == 39 + 1
    assert stats == {"path": "star", "pairs": 39, "rounds": 1, "converged": False}
    assert "did not converge" in caplog.text


def test_lsh_index_equivalent_to_direct_base_dedup(spark, tmp_path):
    """The durable-index path returns EXACTLY the same survivors as
    dedup_against_base on identical inputs, and the index is reused
    across two different increments with no base re-signaturing."""
    from solrizer_spark.operators.dedup import (
        dedup_against_base,
        dedup_against_index,
        write_lsh_index,
    )

    body = ("the quick brown fox jumps over the lazy dog and then sleeps "
            "in the warm afternoon sun for a while longer today")
    other = ("a wholly different base document discussing completely other "
             "matters with a vocabulary of its very own kind here")
    base = spark.createDataFrame(
        [(1, body), (2, other), (3, None)], "doc_id long, text string"
    )
    idx = str(tmp_path / "lsh_index")
    write_lsh_index(base, idx)

    def increment(k):
        return spark.createDataFrame(
            [(k, body),                                  # exact dup
             (k + 1, " ".join(body.split()[:-1])),       # near dup
             (k + 2, " ".join(other.split()[:-2])),      # near dup of 2
             (k + 3, f"fresh increment number {k} bringing entirely new "
                     "words unseen anywhere in the base corpus"),
             (k + 4, None)],
            "doc_id long, text string",
        )

    for k in (100, 200):
        inc = increment(k)
        via_index = {r["doc_id"]
                     for r in dedup_against_index(inc, idx).collect()}
        via_base = {r["doc_id"]
                    for r in dedup_against_base(inc, base).collect()}
        assert via_index == via_base == {k + 3, k + 4}
    with pytest.MonkeyPatch.context() as mp:
        _force_distributed(mp)
        via_base = {r["doc_id"]
                    for r in dedup_against_base(increment(100), base).collect()}
    assert via_base == {103, 104}

    # exact-only mode consistent too
    only_exact = {r["doc_id"] for r in
                  dedup_against_index(increment(300), idx,
                                      threshold=None).collect()}
    assert only_exact == {301, 302, 303, 304}


def test_build_lsh_index_cli(spark, tmp_path):
    """The index-builder CLI drives write_lsh_index end-to-end."""
    import json
    import subprocess
    import sys

    body = ("the quick brown fox jumps over the lazy dog and then sleeps "
            "in the warm afternoon sun for a while longer today")
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, body), (2, None)], "doc_id long, text string"
    ).write.parquet(src)
    idx = str(tmp_path / "idx")
    out = subprocess.run(
        [sys.executable, "tools/build_lsh_index.py", "--input", src,
         "--output", idx, "--cpus", "4"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(out.stdout.strip().splitlines()[-1])
    assert stats["indexed_docs"] == 1  # null-text row excluded
    from solrizer_spark.operators.dedup import dedup_against_index

    inc = spark.createDataFrame([(9, body)], ["doc_id", "text"])
    assert dedup_against_index(inc, idx).count() == 0  # exact dup dropped


def test_dedup_against_base_idempotent(spark):
    """Running the increment filter twice equals once (survivors
    contain no base duplicates by construction)."""
    from solrizer_spark.operators.dedup import dedup_against_base

    body = ("the quick brown fox jumps over the lazy dog and then sleeps "
            "in the warm afternoon sun for a while longer")
    base = spark.createDataFrame([(1, body)], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(10, body), (11, " ".join(body.split()[:-1])),
         (12, "fresh content with its own distinct vocabulary entirely "
              "different from everything in the base corpus")],
        ["doc_id", "text"],
    )
    once = dedup_against_base(new, base)
    twice = dedup_against_base(once, base)
    assert ({r["doc_id"] for r in once.collect()}
            == {r["doc_id"] for r in twice.collect()} == {12})


def test_lsh_index_without_key_format_rejected(spark, tmp_path):
    """An index written before the key format was stamped (no
    ``key_format`` column in ``params``) holds other band keys: it is
    refused, naming the tool that rebuilds it."""
    from solrizer_spark.operators.dedup import dedup_against_index, write_lsh_index
    from solrizer_spark.session import write_local_parquet

    body = "the quick brown fox jumps over the lazy dog again"
    idx = str(tmp_path / "idx")
    write_lsh_index(spark.createDataFrame([(1, body)], "doc_id long, text string"), idx)
    write_local_parquet(
        [(3, 64, 16, 64)],
        "shingle_n int, num_hashes int, bands int, max_bucket int",
        f"{idx}/params",
    )
    inc = spark.createDataFrame([(9, body)], "doc_id long, text string")
    with pytest.raises(ValueError, match="tools/build_lsh_index.py"):
        dedup_against_index(inc, idx)


def _both_lsh_paths(run):
    """``run(stats)`` on the driver path, then forced distributed;
    both results, after checking each took its path."""
    out = []
    for path in ("driver", "distributed"):
        with pytest.MonkeyPatch.context() as mp:
            if path == "distributed":
                _force_distributed(mp)
            stats: dict = {}
            out.append(run(stats))
        assert stats["path"] == path
    return out


def _reporting(stats, call):
    """``call()``, with each ``minhash_lsh_pairs`` call made inside it
    (by a caller that passes no ``stats``) filling ``stats``."""
    from solrizer_spark.operators import dedup

    real = dedup.minhash_lsh_pairs
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "minhash_lsh_pairs", lambda *a, **kw: real(*a, **kw, stats=stats))
        return call()


# url ids (non-ASCII ones sort by UTF-8 bytes: "é" after "z"; a null
# id pairs with nothing) over texts of every degenerate shape: null,
# empty, fewer than 3 tokens, exactly 3, runs of spaces (empty tokens)
EDGE_DOCS = [
    ("https://z.example/a", "alpha beta gamma delta epsilon zeta eta theta"),
    ("https://é.example/b", "alpha beta gamma delta epsilon zeta eta theta iota"),
    ("https://日本.example/", "alpha beta gamma delta epsilon zeta eta"),
    ("u/null1", None), ("u/null2", None),
    ("u/empty1", ""), ("u/empty2", ""),
    ("u/short1", "two words"), ("u/short2", "two words"), ("u/short3", "two"),
    ("u/three1", "exactly three tokens"), ("u/three2", "exactly three tokens"),
    ("u/spaces1", "a  b c  d"), ("u/spaces2", "a  b c  d e"),
    (None, "alpha beta gamma delta epsilon zeta eta theta"),
]


def _string_jaccard(a: str, b: str) -> float:
    def shingles(t):
        toks = t.split(" ")
        if len(toks) < 3:
            return {t}
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def test_lsh_paths_identical_on_edge_texts(spark):
    from solrizer_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(EDGE_DOCS, "url string, text string")

    def run(stats):
        pairs = minhash_lsh_pairs(docs, id_col="url", threshold=0.5, stats=stats)
        return sorted(map(tuple, pairs.collect()))

    driver, distributed = _both_lsh_paths(run)
    assert driver == distributed
    texts = [(u, t) for u, t in EDGE_DOCS if u is not None and t is not None]
    expected = sorted(
        (min(a, b, key=str.encode), max(a, b, key=str.encode))
        for i, (a, ta) in enumerate(texts) for b, tb in texts[i + 1:]
        if _string_jaccard(ta, tb) >= 0.5
    )
    assert [(a, b) for a, b, _ in driver] == expected
    assert ("https://z.example/a", "https://é.example/b", 0.857143) in driver
    assert ("u/empty1", "u/empty2", 1.0) in driver
    none = docs.where("false")
    assert _both_lsh_paths(
        lambda stats: minhash_lsh_pairs(none, id_col="url", stats=stats).count()
    ) == [0, 0]


def test_lsh_paths_identical_with_binding_bucket_cap(spark):
    """20 identical texts share every bucket; a cap of 5 keeps the 5
    lowest ids (Spark string order) on both paths."""
    from solrizer_spark.operators.dedup import minhash_lsh_pairs

    ids = [f"https://{c}.example/" for c in "abcdefghijklmnopqrsé"] + ["https://ä.example/"]
    docs = spark.createDataFrame(
        [(u, "one boilerplate body repeated on every mirror") for u in ids],
        "url string, text string",
    )

    def run(stats):
        pairs = minhash_lsh_pairs(docs, id_col="url", max_bucket=5, stats=stats)
        return sorted(map(tuple, pairs.collect()))

    driver, distributed = _both_lsh_paths(run)
    assert driver == distributed
    lowest = sorted(ids, key=str.encode)[:5]
    assert driver == [(a, b, 1.0) for i, a in enumerate(lowest) for b in lowest[i + 1:]]


def test_lsh_paths_identical_through_candidate_filter(spark):
    """``dedup_against_base`` keeps only cross-side pairs; the driver
    path filters after verification, the distributed one before."""
    from solrizer_spark.operators.dedup import dedup_against_base

    body = ("the quick brown fox jumps over the lazy dog and then sleeps "
            "in the warm afternoon sun for a while longer today")
    base = spark.createDataFrame(
        [(1, body), (2, body + " extra"), (3, None)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(10, " ".join(body.split()[:-1])), (11, "a fresh text with new words only"),
         (12, "a fresh text with new words only too"), (13, None)],
        "doc_id long, text string",
    )

    def run(stats):
        kept = _reporting(stats, lambda: dedup_against_base(new, base).collect())
        return sorted(r["doc_id"] for r in kept)

    driver, distributed = _both_lsh_paths(run)
    assert driver == distributed == [11, 12, 13]


def test_q_dedup_minhash_lsh_paths_identical(spark, tmp_path):
    """The ``dedup_minhash_lsh`` registry query returns the same rows
    on both paths, over a ``documents`` table of 120 texts."""
    import __spark_entry__ as em

    words = [f"w{i}" for i in range(400)]
    spark.createDataFrame(
        [(i, " ".join(words[(i * 7) % 300:(i * 7) % 300 + 12 + i % 9])) for i in range(120)],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    def run(stats):
        rows = _reporting(stats, lambda: em.q_dedup_minhash_lsh(spark, str(tmp_path)).collect())
        return sorted(map(tuple, rows))

    driver, distributed = _both_lsh_paths(run)
    assert driver == distributed
    assert len(driver) >= 24  # every doc_id % 5 == 0 has its near copy
