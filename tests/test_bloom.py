"""Broadcast Bloom filter: parameters, build strategies, guarantees.

The load-bearing properties:
* NO false negatives — every planted base duplicate is flagged, so
  ``bloom_dedup`` never admits a duplicate of the filtered corpus.
* False-positive rate stays near the sized ``fpp`` on disjoint data.
* ``local`` and ``shuffle`` builds are bit-identical.
* ``bloom_dedup_exact`` equals the plain distinct-value anti-join
  exactly (the filter is only a probe-side prefilter).
* merge(filter(A), filter(B)) == filter(A ∪ B) bit-for-bit.
"""

import math

import pytest
from pyspark.sql import functions as F

from solrizer_spark.operators.bloom import (
    BloomFilter,
    bloom_build,
    bloom_dedup,
    bloom_dedup_exact,
    bloom_might_contain,
    bloom_params,
    load_bloom,
    save_bloom,
)
from solrizer_spark.session import local_df


def _vals_df(spark, vals):
    return local_df(spark, [(v,) for v in vals], "v string")


BASE = [f"base-doc-{i}" for i in range(2000)]
NEW = [f"new-doc-{i}" for i in range(2000)]


def test_bloom_params_standard_sizing():
    m, k = bloom_params(1_000_000, 0.01)
    # 9.585 bits/item and k=7 at 1% — the textbook values
    assert abs(m / 1_000_000 - 9.585) < 0.01
    assert k == 7
    m3, k3 = bloom_params(1_000_000, 0.001)
    assert abs(m3 / 1_000_000 - 14.378) < 0.01
    assert k3 == 10
    assert m % 64 == 0 and m3 % 64 == 0
    with pytest.raises(ValueError):
        bloom_params(100, 1.5)


def test_no_false_negatives_and_fp_rate(spark):
    bf = bloom_build(_vals_df(spark, BASE), "v", expected_items=2000, fpp=0.01)
    probe = _vals_df(spark, BASE + NEW)
    checked = bloom_might_contain(probe, "v", bf)
    # membership is executor-local: the probe plan joins nothing
    assert "Join" not in checked._jdf.queryExecution().executedPlan().toString()
    out = checked.collect()
    hits = {r["v"] for r in out if r["bloom_hit"]}
    # guarantee: every inserted value is a hit
    assert hits.issuperset(BASE)
    # FP rate on the disjoint half ≤ 3× the sized rate (slack for
    # small-sample variance; expected ~20 of 2000 at 1%)
    fps = hits.intersection(NEW)
    assert len(fps) <= 3 * 0.01 * len(NEW)
    # fill ratio near the optimal-k value 0.5
    assert 0.3 < bf.fill_ratio() < 0.7


def test_null_values_never_enter_or_match(spark):
    base = local_df(spark, [("a",), (None,), ("b",)], "v string")
    bf = bloom_build(base, "v", expected_items=10, fpp=0.01)
    probe = local_df(spark, [("a",), (None,), ("c",)], "v string")
    rows = {
        r["v"]: r["bloom_hit"]
        for r in bloom_might_contain(probe, "v", bf).collect()
    }
    assert rows["a"] is True
    assert rows[None] is False


def test_local_and_shuffle_builds_bit_identical(spark):
    df = _vals_df(spark, BASE).repartition(7)
    a = bloom_build(df, "v", expected_items=2000, fpp=0.01, strategy="local")
    b = bloom_build(df, "v", expected_items=2000, fpp=0.01, strategy="shuffle")
    assert a.chunks == b.chunks
    assert (a.bits_total, a.k, a.seed) == (b.bits_total, b.k, b.seed)


def _shuffle_records(spark) -> int:
    """Shuffle records written by every stage so far, from the JVM's
    status store (the Spark UI's data; it works with the UI off)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    gw = spark.sparkContext._gateway
    empty = gw.jvm.java.util.ArrayList()
    stages = sc.statusStore().stageList(empty, False, False, gw.new_array(gw.jvm.double, 0), empty)
    return sum(stages.apply(i).shuffleWriteRecords() for i in range(stages.length()))


def test_local_build_shuffles_bitmaps_not_positions(spark):
    """The local build moves one bitmap per input partition into ≤ 16
    merge tasks, then those into one: at most P + 16 shuffle records,
    where the shuffle build moves one per set position (items × k)."""
    df = _vals_df(spark, BASE).repartition(7).persist()
    df.count()
    before = _shuffle_records(spark)
    bf = bloom_build(df, "v", expected_items=2000, fpp=0.01, strategy="local")
    assert _shuffle_records(spark) - before <= 7 + 16
    before = _shuffle_records(spark)
    bloom_build(df, "v", expected_items=2000, fpp=0.01, strategy="shuffle")
    assert _shuffle_records(spark) - before >= len(BASE) * bf.k
    df.unpersist()


def test_build_is_deterministic(spark):
    a = bloom_build(_vals_df(spark, BASE), "v", expected_items=2000, fpp=0.01)
    b = bloom_build(
        _vals_df(spark, list(reversed(BASE))).repartition(3),
        "v",
        expected_items=2000,
        fpp=0.01,
    )
    # same value set, any order/partitioning → identical bits
    assert a.chunks == b.chunks


def test_bloom_dedup_drops_all_base_duplicates(spark):
    bf = bloom_build(_vals_df(spark, BASE), "v", expected_items=2000, fpp=0.01)
    increment = _vals_df(spark, BASE[:500] + NEW)
    kept = {r["v"] for r in bloom_dedup(increment, "v", bf).collect()}
    # no duplicate survives, period
    assert not kept.intersection(BASE)
    # and ≥ (1 - 3·fpp) of the genuinely-new rows survive
    assert len(kept) >= len(NEW) * (1 - 0.03)


def test_bloom_dedup_exact_equals_plain_anti_join(spark):
    base = _vals_df(spark, BASE)
    bf = bloom_build(base, "v", expected_items=2000, fpp=0.3)  # high fpp on purpose
    increment = _vals_df(spark, BASE[:100] + NEW + [None])
    got = sorted(
        r["v"] or "" for r in bloom_dedup_exact(increment, base, "v", bf).collect()
    )
    want = sorted(
        r["v"] or ""
        for r in increment.join(
            base.select(F.col("v").alias("__bv")).distinct(),
            increment["v"] == F.col("__bv"),
            "left_anti",
        ).collect()
    )
    assert got == want
    # every genuinely-new row present despite the deliberately-high fpp
    assert set(got).issuperset(NEW)


def test_merge_equals_union_build(spark):
    m, k = bloom_params(4000, 0.01)
    kw = dict(bits_total=m, k=k, seed=5)
    fa = bloom_build(_vals_df(spark, BASE), "v", **kw)
    fb = bloom_build(_vals_df(spark, NEW), "v", **kw)
    fu = bloom_build(_vals_df(spark, BASE + NEW), "v", **kw)
    assert fa.merge(fb).chunks == fu.chunks
    with pytest.raises(ValueError):
        fa.merge(BloomFilter(m, k, seed=6, n_items=0, chunks=fb.chunks))


def test_save_load_roundtrip(spark, tmp_path):
    bf = bloom_build(
        _vals_df(spark, BASE), "v", expected_items=2000, fpp=0.01, seed=9
    )
    path = str(tmp_path / "bloom")
    save_bloom(spark, bf, path)
    loaded = load_bloom(spark, path)
    assert loaded == bf


def test_sizing_math_matches_realized_fp(spark):
    """The realized FP rate tracks (1 - e^{-kn/m})^k for the built
    filter — the sizing formula is live, not just documented."""
    bf = bloom_build(_vals_df(spark, BASE), "v", expected_items=2000, fpp=0.05)
    predicted = (1 - math.exp(-bf.k * 2000 / bf.bits_total)) ** bf.k
    probe = _vals_df(spark, [f"probe-{i}" for i in range(4000)])
    hits = bloom_might_contain(probe, "v", bf).where(F.col("bloom_hit")).count()
    realized = hits / 4000
    assert realized < max(3 * predicted, 0.002)


# --------------------------------------------------------------------------
# sharded index (the ≥10^10-item form)
# --------------------------------------------------------------------------

def test_index_no_false_negatives_and_fp_rate(spark, tmp_path):
    from solrizer_spark.operators.bloom import (
        bloom_index_build,
        bloom_index_dedup,
        bloom_index_might_contain,
    )

    idx = str(tmp_path / "idx")
    meta = bloom_index_build(
        _vals_df(spark, BASE).repartition(5), "v", idx,
        n_shards=4, expected_items=2000, fpp=0.01,
    )
    assert meta["n_shards"] == 4
    probe = _vals_df(spark, BASE + NEW + [None])
    out = bloom_index_might_contain(probe, "v", idx).collect()
    hits = {r["v"] for r in out if r["bloom_hit"]}
    assert hits.issuperset(BASE)            # guarantee: no false negatives
    assert len(hits.intersection(NEW)) <= 3 * 0.01 * len(NEW)
    assert None not in hits                 # nulls never match
    kept = {r["v"] for r in bloom_index_dedup(probe, "v", idx).collect()}
    assert not kept.intersection(BASE)
    assert len(kept.intersection(NEW)) >= len(NEW) * (1 - 0.03)


def test_index_agrees_with_flat_filter_guarantees(spark, tmp_path):
    """The sharded index and the flat filter make the same promise —
    identical verdicts on all inserted values, and both reject the
    same definite-misses (FP sets may differ: independent hashes)."""
    from solrizer_spark.operators.bloom import (
        bloom_index_build,
        bloom_index_might_contain,
    )

    idx = str(tmp_path / "idx")
    bloom_index_build(
        _vals_df(spark, BASE), "v", idx,
        n_shards=3, expected_items=2000, fpp=0.001,
    )
    flat = bloom_build(_vals_df(spark, BASE), "v",
                       expected_items=2000, fpp=0.001)
    probe = _vals_df(spark, BASE)
    sharded_hits = {
        r["v"]
        for r in bloom_index_might_contain(probe, "v", idx).collect()
        if r["bloom_hit"]
    }
    flat_hits = {
        r["v"]
        for r in bloom_might_contain(probe, "v", flat).collect()
        if r["bloom_hit"]
    }
    assert sharded_hits == flat_hits == set(BASE)


def test_index_partitioning_invariance(spark, tmp_path):
    """Same verdicts regardless of the probe's physical partitioning
    (the router repartition is semantic, not layout-dependent)."""
    from solrizer_spark.operators.bloom import (
        bloom_index_build,
        bloom_index_might_contain,
    )

    idx = str(tmp_path / "idx")
    bloom_index_build(
        _vals_df(spark, BASE), "v", idx,
        n_shards=4, expected_items=2000, fpp=0.01,
    )
    probe = _vals_df(spark, BASE[:100] + NEW[:100])
    a = {
        (r["v"], r["bloom_hit"])
        for r in bloom_index_might_contain(probe, "v", idx).collect()
    }
    b = {
        (r["v"], r["bloom_hit"])
        for r in bloom_index_might_contain(
            probe.repartition(13), "v", idx
        ).collect()
    }
    assert a == b


def test_index_missing_chunks_are_definite_misses(spark, tmp_path):
    """A (shard, chunk) never written during the build reads as
    all-zeros: probing an index built from a tiny value set must not
    error on values routing to untouched shards/chunks."""
    from solrizer_spark.operators.bloom import (
        bloom_index_build,
        bloom_index_might_contain,
    )

    idx = str(tmp_path / "idx")
    bloom_index_build(
        _vals_df(spark, ["only-one-value"]), "v", idx,
        n_shards=8, expected_items=8, fpp=0.01,
    )
    probe = _vals_df(spark, [f"probe-{i}" for i in range(200)] + ["only-one-value"])
    rows = {r["v"]: r["bloom_hit"] for r in
            bloom_index_might_contain(probe, "v", idx).collect()}
    assert rows["only-one-value"] is True
    assert sum(rows.values()) <= 3  # everything else a definite miss (tiny fp slack)


def test_might_contain_preserves_user_h1_h2_columns(spark):
    """ADVICE r5: an input that already carries columns named h1/h2
    must pass through unmodified — the probe's working columns use
    collision-proof internal names."""
    df = local_df(
        spark,
        [("a", 10, 20), ("b", 11, 21), (None, 12, 22)],
        "text string, h1 int, h2 int",
    )
    bf = bloom_build(
        local_df(spark, [("a",)], "text string"), "text",
        expected_items=4, fpp=0.01,
    )
    rows = {
        r["h1"]: (r["h2"], r["bloom_hit"])
        for r in bloom_might_contain(df, "text", bf).collect()
    }
    assert rows[10] == (20, True)   # planted value hits
    assert rows[11][0] == 21        # user columns intact
    assert rows[12] == (22, False)  # NULL never hits
