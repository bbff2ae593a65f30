"""Integer fixed-point PageRank (engine-original host-graph layer)."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from solrizer_spark.operators.graph import host_edges, pagerank

EDGES = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "a")]

#: 5 iterations, damping 85/100, mass 10^12 — values computed
#: independently by the DuckDB recursive-CTE oracle implementation
EXPECTED = {
    "a": 377_081_308_593,
    "b": 209_545_478_515,
    "c": 375_873_212_890,
    "d": 37_500_000_000,
}


def _ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {r["node"]: r["rank"] for r in pagerank(df, **kw).collect()}


def test_pagerank_matches_independent_oracle_values(spark):
    assert _ranks(spark, EDGES, iterations=5) == EXPECTED


def test_pagerank_mass_bounded_and_total_nodes(spark):
    got = _ranks(spark, EDGES, iterations=5)
    assert set(got) == {"a", "b", "c", "d"}
    assert sum(got.values()) <= 10**12


def test_pagerank_multi_edges_do_not_multiply(spark):
    # duplicate edges collapse to the simple graph
    assert _ranks(spark, EDGES + EDGES, iterations=5) == EXPECTED


def test_pagerank_no_inbound_node_keeps_base_rank(spark):
    got = _ranks(spark, EDGES, iterations=5)
    # d has no inbound edges: after round 1 its rank is exactly base
    assert got["d"] == ((100 - 85) * 10**12 // 100) // 4


def test_pagerank_sink_node_and_zero_iterations(spark):
    # b is a sink (no out-edges): dangling mass decays, no crash
    got = _ranks(spark, [("a", "b")], iterations=3)
    assert set(got) == {"a", "b"} and got["b"] > got["a"]
    got0 = _ranks(spark, [("a", "b")], iterations=0)
    assert got0 == {"a": 10**12 // 2, "b": 10**12 // 2}


def test_pagerank_empty_graph(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert pagerank(df, iterations=2).collect() == []


def test_pagerank_bad_damping(spark):
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    with pytest.raises(ValueError):
        pagerank(df, damping=(100, 100))


def test_host_pagerank_end_to_end(spark):
    """The host-graph composition ``job.py --host-graph`` runs:
    distinct eTLD+1 edges from outlinks, then PageRank over them."""
    rows = [
        (
            f"https://site{i % 3}.com/p{i}",
            f'<a href="https://hub.org/x">l</a>'
            + (f'<a href="https://site{(i + 1) % 3}.com/y">m</a>' if i % 2 else ""),
        )
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, ["url", "html_text"])
    edges = host_edges(df, html_col="html_text", url_col="url")
    ranks = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=3, dedup_edges=False).collect()
    }
    # every site links to hub.org → it dominates
    assert max(ranks, key=ranks.get) == "hub.org"
    assert set(ranks) == {"hub.org", "site0.com", "site1.com", "site2.com"}


def test_job_host_graph_side_tables(spark, tmp_path):
    """job.py --host-graph writes edges + integer ranks side tables."""
    import datetime as dt
    import os

    from job import run_job

    def page(i, host, links):
        body = "<html><body><p>some extracted content here okay</p>"
        body += "".join(f'<a href="https://{d}/x">l</a>' for d in links)
        body += "</body></html>"
        return (
            f"https://{host}/p{i}",
            dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
            body.encode(),
            None,
            "en",
        )

    rows = [page(i, f"site{i % 3}.com", ["hub.org"]) for i in range(9)]
    pages_path = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).write.parquet(pages_path)

    out = str(tmp_path / "out")
    stats = run_job(spark, pages_path, out, n_buckets=8, host_graph=True)
    assert stats["host_graph"] == {"n_edges": 3, "n_hosts": 4}
    ranks = {
        r["node"]: r["rank"]
        for r in spark.read.parquet(os.path.join(out, "host_graph", "ranks")).collect()
    }
    assert max(ranks, key=ranks.get) == "hub.org"
    edges = spark.read.parquet(os.path.join(out, "host_graph", "edges")).collect()
    assert {(e["src"], e["dst"]) for e in edges} == {
        (f"site{i}.com", "hub.org") for i in range(3)
    }


def test_pagerank_partitioning_invariance(spark):
    """The core integer-arithmetic claim: ranks are bit-identical
    under any input partitioning."""
    df = spark.createDataFrame(EDGES * 3, ["src", "dst"])
    a = {r["node"]: r["rank"] for r in pagerank(df, iterations=5).collect()}
    b = {r["node"]: r["rank"]
         for r in pagerank(df.repartition(13), iterations=5).collect()}
    assert a == b == EXPECTED


def test_generated_corpus_host_graph_nonempty(spark):
    """The corpus generator's link farm carries absolute cross-site
    links (even slots; `_link_dst`), so `host_edges` over a generated
    corpus is non-vacuous — a 2000-page job run was silently writing
    an EMPTY host graph before round 4 (relative-only hrefs). Anchor
    text is rng-drawn exactly as before, so extraction goldens are
    untouched (pinned by the golden/snapshot suites)."""
    from solrizer_spark.corpus.generator import generate_page
    from solrizer_spark.operators.graph import host_edges

    rows = [
        generate_page(i, seed=42)[0]
        for i in range(40)
        if generate_page(i, seed=42)[0]["html"] is not None
    ]
    df = spark.createDataFrame(
        [(r["url"], r["html"]) for r in rows], "url string, html binary"
    )
    edges = host_edges(df, html_col="html", url_col="url").collect()
    assert edges, "generated corpus must produce host-graph edges"
    dsts = {e["dst"] for e in edges}
    # hub domains (slot 0) and long-tail ext domains are both present,
    # and page hosts collapse to their registrable eTLD+1 on the src side
    assert any(d.startswith("example-hub") for d in dsts)
    assert any(d.startswith("example-ext") for d in dsts)
    assert {e["src"] for e in edges} <= {"example.com", "example.org"}


def _skewed_graph(n=300, sinks=15, seed=7):
    """Preferential attachment: node i links to 1-4 earlier nodes (so
    early nodes soak up in-links) and, 30% of the time, to one of
    ``sinks`` dangling nodes that have no out-edges."""
    rng = random.Random(seed)
    edges = set()
    for i in range(1, n):
        for _ in range(1 + rng.randrange(4)):
            edges.add((i, rng.randrange(i)))
        if rng.random() < 0.3:
            edges.add((i, n + rng.randrange(sinks)))
    return sorted(edges)


def _reference_ranks(edges, iterations, num=85, denom=100, mass=10**12):
    """The integer PageRank recurrence in plain Python: a dangling
    node's rank reaches nobody, so its mass leaves the total."""
    nodes = {v for e in edges for v in e}
    outdeg = Counter(src for src, _ in edges)
    base = ((denom - num) * mass // denom) // len(nodes)
    rank = dict.fromkeys(nodes, mass // len(nodes))
    for _ in range(iterations):
        inbound = dict.fromkeys(nodes, 0)
        for src, dst in edges:
            inbound[dst] += rank[src] // outdeg[src]
        rank = {v: base + num * inbound[v] // denom for v in nodes}
    return rank


def test_pagerank_skewed_graph_with_sinks_matches_reference(spark):
    """A 315-node skewed graph with dangling sinks: exact ranks at 5
    rounds and at 10 (past the round-8 checkpoint), the same node set
    at both, and mass that only decays."""
    edges = _skewed_graph()
    df = spark.createDataFrame(edges, "src long, dst long").repartition(4)
    got = {it: {r["node"]: r["rank"] for r in pagerank(df, iterations=it).collect()}
           for it in (5, 10)}
    for it, ranks in got.items():
        assert ranks == _reference_ranks(edges, it), it
    assert 10**12 > sum(got[5].values()) > sum(got[10].values())
