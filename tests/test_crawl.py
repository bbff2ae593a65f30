"""Per-host politeness fetch scheduling (engine-original crawl op)."""

from __future__ import annotations

import pytest

from solrizer_spark.operators.crawl import fetch_schedule


def _urls(spark, n_big=25, n_small=3):
    rows = [(f"https://big.com/p{i:03d}",) for i in range(n_big)] + [
        (f"https://small.org/q{i}",) for i in range(n_small)
    ]
    return spark.createDataFrame(rows, ["url"])


def test_exact_mode_caps_per_slot(spark):
    out = fetch_schedule(_urls(spark), per_slot=10, mode="exact").collect()
    per = {}
    for r in out:
        per.setdefault((r["host"], r["slot"]), 0)
        per[(r["host"], r["slot"])] += 1
    # big.com: 25 urls → slots 0,1 full (10) and slot 2 holds 5
    assert per[("big.com", 0)] == 10
    assert per[("big.com", 1)] == 10
    assert per[("big.com", 2)] == 5
    assert per[("small.org", 0)] == 3
    # lexicographic order: p000..p009 land in slot 0
    slots = {r["url"]: r["slot"] for r in out}
    assert slots["https://big.com/p000"] == 0
    assert slots["https://big.com/p024"] == 2


def test_hash_mode_slot_range_and_determinism(spark):
    df = _urls(spark, n_big=40, n_small=5)
    a = {r["url"]: r["slot"] for r in fetch_schedule(df, per_slot=10).collect()}
    b = {r["url"]: r["slot"] for r in fetch_schedule(df, per_slot=10).collect()}
    assert a == b  # rerun-stable (pure key-hash, no rand())
    for url, slot in a.items():
        n_slots = 4 if "big.com" in url else 1
        assert 0 <= slot < n_slots
    # single-slot host: everything in slot 0
    assert all(s == 0 for u, s in a.items() if "small.org" in u)


def test_hash_mode_spreads_a_mega_host(spark):
    df = _urls(spark, n_big=200, n_small=0)
    out = fetch_schedule(df, per_slot=10).groupBy("slot").count().collect()
    # 20 slots, expectation 10/slot; just require every slot nonempty
    # and no slot hoarding more than half the host
    assert len(out) == 20
    assert max(r["count"] for r in out) < 100


def test_bad_args(spark):
    df = _urls(spark)
    with pytest.raises(ValueError):
        fetch_schedule(df, per_slot=0)
    with pytest.raises(ValueError):
        fetch_schedule(df, mode="nope")


def test_hash_mode_keeps_null_urls(spark):
    """Review regression: hash mode must not lose null-url rows to a
    null != null inner join — both modes agree on cardinality."""
    rows = [("https://big.com/p1",), ("https://big.com/p2",), (None,)]
    df = spark.createDataFrame(rows, "url string")
    exact = fetch_schedule(df, per_slot=2, mode="exact").collect()
    hashed = fetch_schedule(df, per_slot=2, mode="hash").collect()
    assert len(exact) == len(hashed) == 3
    null_rows = [r for r in hashed if r["url"] is None]
    assert len(null_rows) == 1 and null_rows[0]["slot"] == 0


def test_fetch_schedule_with_delays(spark):
    """A slow host (Crawl-delay 5 -> 2 fetches per 10s slot) spreads
    over more slots than a default host of the same size."""
    from solrizer_spark.operators.crawl import fetch_schedule_with_delays

    rows = [(f"https://slow.com/p{i}",) for i in range(20)] + [
        (f"https://fast.org/p{i}",) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "url string")
    delays = spark.createDataFrame(
        [("slow.com", 5.0), ("fast.org", None)],
        "host string, crawl_delay double",
    )
    out = fetch_schedule_with_delays(
        df, delays, slot_seconds=10.0, default_per_slot=10
    ).collect()
    slots = {}
    for r in out:
        slots.setdefault(r["host"], set()).add(r["slot"])
    # slow.com: per_slot=2 -> ceil(20/2)=10 slots (hash occupancy may
    # leave some empty); fast.org: 2 slots
    assert slots["slow.com"] <= set(range(10)) and len(slots["slow.com"]) >= 6
    assert slots["fast.org"] <= {0, 1} and len(slots["fast.org"]) == 2
    assert len(out) == 40


def test_extract_anchors_shapes(spark):
    from solrizer_spark.functions.urls import extract_anchors

    html = (
        '<A HREF="https://x.com/a">Click <b>here</b>\n now</A>'
        "<a href='/rel'>rel  link</a><a href=\"https://y.com/b\"></a>"
        '<a name="no-href">skip</a>'
    )
    df = spark.createDataFrame([(html,)], ["html"])
    got = df.select(extract_anchors("html").alias("a")).collect()[0]["a"]
    assert [(r["href"], r["text"]) for r in got] == [
        ("https://x.com/a", "Click here now"),  # tags stripped, ws collapsed
        ("https://y.com/b", ""),                # empty anchor kept
        ("/rel", "rel link"),                   # single-quoted after double
    ]


def test_parse_crawl_delay_groups():
    from solrizer_spark.functions.urls import parse_crawl_delay

    body = "User-agent: *\nCrawl-delay: 2.5\nUser-agent: bot\nCrawl-delay: 99"
    assert parse_crawl_delay(body) == 2.5
    assert parse_crawl_delay(body, agent="bot") == 99.0
    assert parse_crawl_delay("User-agent: other\nCrawl-delay: 7") is None
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: nope") is None
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: -3") is None
    assert parse_crawl_delay(None) is None
    assert parse_crawl_delay(b"User-agent: *\nCrawl-delay: 1") == 1.0


def test_parse_crawl_delay_rfc_group_semantics():
    """Review regressions: exact-agent group supersedes the wildcard
    group; consecutive User-agent lines share one group."""
    from solrizer_spark.functions.urls import parse_crawl_delay

    body = "User-agent: bot\nCrawl-delay: 2\nUser-agent: *\nCrawl-delay: 30"
    assert parse_crawl_delay(body, agent="bot") == 2.0
    assert parse_crawl_delay(body) == 30.0
    shared = "User-agent: a\nUser-agent: b\nCrawl-delay: 5"
    assert parse_crawl_delay(shared, agent="a") == 5.0
    assert parse_crawl_delay(shared, agent="b") == 5.0


def test_fetch_schedule_with_delays_duplicate_host_rows(spark):
    """Review regression: a dim with two rows for one host must not
    fan out the urls join; the conservative (max) delay wins."""
    from solrizer_spark.operators.crawl import fetch_schedule_with_delays

    df = spark.createDataFrame(
        [(f"https://dup.com/p{i}",) for i in range(10)], "url string"
    )
    delays = spark.createDataFrame(
        [("dup.com", 2.0), ("dup.com", 5.0)], "host string, crawl_delay double"
    )
    out = fetch_schedule_with_delays(
        df, delays, slot_seconds=10.0, default_per_slot=10
    ).collect()
    assert len(out) == 10  # no row duplication
    # max delay 5 -> per_slot 2 -> ceil(10/2) = 5 slots
    assert all(0 <= r["slot"] < 5 for r in out)


@pytest.mark.parametrize("per_slot", [1, 3, 10])
def test_fetch_schedule_invariants_property(spark, per_slot):
    """Invariants for arbitrary url shapes: every input row appears
    exactly once; slots are within [0, ceil(n_host/per_slot))."""
    rows = [(u,) for u in [
        "https://a.com/x", "https://a.com/y", "https://a.com/z",
        "HTTPS://A.COM/upper", "https://b.io:8443/p?q=1#f",
        "ftp://weird.scheme/only", "not a url at all", None,
        "https://user:pw@c.org/auth", "https://a.com/x",  # dup url
    ]]
    df = spark.createDataFrame(rows, "url string")
    for mode in ("hash", "exact"):
        out = fetch_schedule(df, per_slot=per_slot, mode=mode).collect()
        assert len(out) == len(rows)
        per_host = {}
        for r in out:
            per_host.setdefault(r["host"], []).append(r["slot"])
        for host, slots in per_host.items():
            import math
            bound = math.ceil(len(slots) / per_slot)
            assert all(0 <= s < bound for s in slots), (mode, host, slots)
