"""Arrow numpy similarity kernels and the operators built on them.

Kernel-level tests: operators/similarity.py's Arrow kernels
(make_cosine_pair_udf, make_semdedup_cell_fn, make_unit_udf,
make_band_keys_udf, make_assign_cell_sim_udf,
make_cosine_to_query_udf) claim BIT-IDENTICAL doubles to the
interpreted-HOF Column folds the SQL oracles mirror. Each test
compares the two with exact ``==`` over collected Python floats
(equal bits ⇔ equal floats for non-NaN doubles), over float32 inputs
that include zero vectors (the zero-norm guard) and duplicated
centroids (the first-maximal tie-break).

Operator-level tests: each operator (top-k scans, LSH/IVF probes,
embedding near-dup pairs, k-means, SemDeDup, SimHash) is compared to
a small pure-Python reference in this file that spells out the same
arithmetic — left folds in float64, HALF_UP rounding to 6 decimals,
lowest-id tie-breaks, lowest-id bucket caps.

Engine-original (no reference analog; the reference has no vector
ops — src/solrizer/indexers/extracted_text.py consumes binaries
per-request).
"""

import hashlib
import itertools
import math
import random
from decimal import ROUND_HALF_UP, Decimal

import pyspark.sql.functions as F
import pytest

from solrizer_spark.operators.similarity import (
    assign_ivf_cell_sim,
    brute_force_topk,
    cosine,
    dot,
    embedding_near_dup_pairs,
    hyperplane_bucket,
    ivf_topk,
    kmeans_fit,
    lsh_topk,
    make_assign_cell_sim_udf,
    make_band_keys_udf,
    make_cosine_pair_udf,
    make_cosine_to_query_udf,
    make_semdedup_cell_fn,
    make_unit_udf,
    norm,
    semantic_dedup,
)

DIMS = 16


def _vecs(n, seed=11, dims=DIMS, dups_every=None, zeros_every=7):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        if zeros_every and i % zeros_every == 3:
            v = [0.0] * dims
        else:
            v = [rng.uniform(-1, 1) for _ in range(dims)]
        out.append((i, v))
        if dups_every and i % dups_every == 0:
            out.append((i + 10_000, list(v)))
    return out


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(
        _vecs(120, dups_every=10), "vec_id long, embedding array<float>"
    ).cache()


@pytest.fixture(scope="module")
def pairs(spark, emb):
    a = emb.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"))
    return (
        a.join(b, (F.col("ida") % 9) == (F.col("idb") % 9))
        .where(F.col("ida") < F.col("idb"))
        .cache()
    )


def test_cosine_pair_bitparity(pairs):
    rows = pairs.select(
        "ida",
        "idb",
        cosine(F.col("va"), F.col("vb")).alias("col_cos"),
        make_cosine_pair_udf(DIMS)(F.col("va"), F.col("vb")).alias("arrow_cos"),
    ).collect()
    assert rows, "join produced no pairs"
    for r in rows:
        assert r["col_cos"] == r["arrow_cos"], (r["ida"], r["idb"])


def test_dot_pair_bitparity(emb, pairs):
    """make_semdedup_cell_fn's blocked pair dots (tau=-inf: every
    within-group pair is emitted) equal the Column ``dot`` fold."""
    grouped = emb.select(
        (F.col("vec_id") % 9).alias("cell"),
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
    ).groupBy("cell").applyInPandas(
        make_semdedup_cell_fn(DIMS, float("-inf")),
        schema="_ida long, _idb long, pair_dot double",
    )
    got = {(r["_ida"], r["_idb"]): r["pair_dot"] for r in grouped.collect()}
    rows = pairs.select(
        "ida", "idb", dot(F.col("va"), F.col("vb")).alias("c")
    ).collect()
    assert rows and len(got) == len(rows)
    for r in rows:
        assert got[(r["ida"], r["idb"])] == r["c"], (r["ida"], r["idb"])


def test_unit_udf_bitparity(emb):
    nrm = norm(F.col("embedding"))
    col_unit = F.when(
        nrm != 0.0,
        F.transform(F.col("embedding"), lambda x: x.cast("double") / nrm),
    ).otherwise(F.transform(F.col("embedding"), lambda x: F.lit(0.0)))
    rows = emb.select(
        "vec_id",
        col_unit.alias("c"),
        make_unit_udf(DIMS)(F.col("embedding")).alias("a"),
    ).collect()
    for r in rows:
        assert list(r["c"]) == list(r["a"]), r["vec_id"]


def test_band_keys_bitparity(emb):
    bands, bits = 4, 6
    cols = [
        hyperplane_bucket(F.col("embedding"), bits, DIMS, offset=band * bits).alias(
            f"k{band}"
        )
        for band in range(bands)
    ]
    rows = emb.select(
        "vec_id",
        make_band_keys_udf(bands, bits, DIMS)(F.col("embedding")).alias("a"),
        *cols,
    ).collect()
    for r in rows:
        assert list(r["a"]) == [r[f"k{band}"] for band in range(bands)], r["vec_id"]


def test_assign_cell_sim_bitparity_with_ties(emb):
    rng = random.Random(3)
    c0 = [rng.uniform(-1, 1) for _ in range(DIMS)]
    # duplicated centroid: exact sim tie — both paths must pick the
    # FIRST (lowest) cell; plus a zero centroid (zero-norm guard)
    cents = [c0, list(c0), [rng.uniform(-1, 1) for _ in range(DIMS)], [0.0] * DIMS]
    rows = emb.select(
        "vec_id",
        assign_ivf_cell_sim(F.col("embedding"), cents).alias("c"),
        make_assign_cell_sim_udf(cents)(F.col("embedding")).alias("a"),
    ).collect()
    for r in rows:
        assert r["c"]["cell"] == r["a"]["cell"], r["vec_id"]
        assert r["c"]["sim"] == r["a"]["sim"], r["vec_id"]
    assert any(r["c"]["cell"] == 0 for r in rows), "tie case never exercised"


def test_cosine_to_query_bitparity(emb):
    q = [((i * 37) % 19 - 9) / 9.0 for i in range(DIMS)]
    nq = F.lit(math.sqrt(sum(float(v) * float(v) for v in q)))
    qarr = F.array(*[F.lit(float(v)) for v in q])
    nv = norm(F.col("embedding"))
    col_cos = F.when(
        nv * nq != 0.0, dot(F.col("embedding"), qarr) / (nv * nq)
    ).otherwise(F.lit(0.0))
    rows = emb.select(
        "vec_id",
        col_cos.alias("c"),
        make_cosine_to_query_udf(q)(F.col("embedding")).alias("a"),
    ).collect()
    for r in rows:
        assert r["c"] == r["a"], r["vec_id"]


# -- pure-Python references for the operator-level tests -------------------


def _round6(x):
    """Spark's ``round(x, 6)`` on a double: HALF_UP on its decimal
    string."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _dot_fold(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _cos(a, b):
    denom = math.sqrt(_dot_fold(a, a)) * math.sqrt(_dot_fold(b, b))
    return _dot_fold(a, b) / denom if denom != 0.0 else 0.0


def _unit(v):
    n = math.sqrt(_dot_fold(v, v))
    return [x / n for x in v] if n != 0.0 else [0.0] * len(v)


def _assign(v, cents):
    """Nearest centroid by cosine; ties → lowest cell."""
    sims = [_cos(v, c) for c in cents]
    return max(range(len(cents)), key=lambda i: (sims[i], -i))


def _sign(j, d):
    h = hashlib.md5(f"{j}_{d}".encode()).hexdigest()
    return 1.0 if ord(h[0]) % 2 == 0 else -1.0


def _band_keys(v, bands, bits):
    """Per band: ``bits`` hyperplane signs packed MSB-first."""
    keys = []
    for band in range(bands):
        key = 0
        for j in range(band * bits, (band + 1) * bits):
            proj = 0.0
            for d, x in enumerate(v):
                proj = proj + x * _sign(j, d)
            key = key * 2 + (1 if proj > 0.0 else 0)
        keys.append(key)
    return keys


def _topk(vecs, q, k):
    scored = [(i, _round6(_cos(v, q))) for i, v in vecs.items()]
    return sorted(sorted(scored, key=lambda t: (-t[1], t[0]))[:k])


def _simhash(text, bits=32):
    if text is None:
        return None
    bal = [0] * bits
    for tok in text.split(" "):
        h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
        for b in range(bits):
            bal[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(bits) if bal[b] > 0)


@pytest.fixture(scope="module")
def vecs(emb):
    """The stored (float32-rounded) vectors, as Python doubles."""
    return {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


_Q = [((i * 13) % 11 - 5) / 5.0 for i in range(DIMS)]


def test_brute_force_topk_arrow_equals_column(emb, vecs):
    """brute_force_topk equals the reference exact top-k: rounded
    cosine descending, lowest id first on ties."""
    assert _sorted_rows(brute_force_topk(emb, _Q, k=15)) == _topk(vecs, _Q, 15)


def test_lsh_and_ivf_topk_arrow_equals_column(emb, vecs):
    """lsh_topk (multiband probe) and ivf_topk equal the reference
    top-k over the rows the reference probe admits."""
    qkeys = _band_keys(_Q, 2, 4)
    probed = {
        i: v for i, v in vecs.items()
        if any(a == b for a, b in zip(_band_keys(v, 2, 4), qkeys))
    }
    assert 0 < len(probed) < len(vecs)  # the probe prunes
    got = _sorted_rows(lsh_topk(emb, _Q, k=10, n_bits=4, bands=2))
    assert got == _topk(probed, _Q, 10)

    rng = random.Random(5)
    cents = [[rng.uniform(-1, 1) for _ in range(DIMS)] for _ in range(3)]
    probe = sorted(range(3), key=lambda i: (-_cos(_Q, cents[i]), i))[:2]
    in_cells = {i: v for i, v in vecs.items() if _assign(v, cents) in probe}
    got = _sorted_rows(ivf_topk(emb, _Q, cents, k=10, nprobe=2))
    assert got == _topk(in_cells, _Q, 10)


def test_near_dup_pairs_arrow_equals_column(emb, vecs):
    """embedding_near_dup_pairs equals the reference: banded
    hyperplane buckets capped to their lowest ``max_bucket`` ids, every
    (i<j) candidate verified by rounded cosine."""
    bands, bits, max_bucket = 4, 4, 8
    buckets = {}
    for i in sorted(vecs):
        for band, key in enumerate(_band_keys(vecs[i], bands, bits)):
            buckets.setdefault((band, key), []).append(i)
    assert max(len(ids) for ids in buckets.values()) > max_bucket  # cap binds
    cands = {p for ids in buckets.values() for p in itertools.combinations(ids[:max_bucket], 2)}
    want = sorted(
        (a, b, c) for a, b in cands
        if (c := _round6(_cos(vecs[a], vecs[b]))) >= 0.99
    )
    got = _sorted_rows(
        embedding_near_dup_pairs(
            emb, threshold=0.99, dims=DIMS, band_bits=bits, bands=bands,
            max_bucket=max_bucket,
        )
    )
    assert got == want
    assert got, "no near-dup pairs found — dups_every planted copies missing"


def _semdedup_ref(vecs, cents, tau, max_cell=None):
    cells = {i: _assign(v, cents) for i, v in vecs.items()}
    members = {}
    for i in sorted(vecs):
        members.setdefault(cells[i], []).append(i)
    dups = set()
    for ids in members.values():
        for a, b in itertools.combinations(ids[:max_cell], 2):
            if _round6(_dot_fold(_unit(vecs[a]), _unit(vecs[b]))) >= tau:
                dups.add(b)
    return sorted((i, cells[i], i in dups) for i in vecs)


def test_semantic_dedup_arrow_equals_column(emb, vecs):
    """semantic_dedup equals the reference (unit vectors, within-cell
    rounded dots, the higher id flagged), uncapped and with a binding
    ``max_cell`` cap (docs past a cell's lowest ``max_cell`` ids are
    never flagged)."""
    cents = kmeans_fit(emb, k=3, n_iter=2)
    want = _semdedup_ref(vecs, cents, 0.99)
    assert _sorted_rows(semantic_dedup(emb, cents, tau=0.99)) == want
    assert any(r[2] for r in want), "no semantic dup flagged"

    capped = _semdedup_ref(vecs, cents, 0.99, max_cell=20)
    assert sum(r[2] for r in capped) < sum(r[2] for r in want)  # cap binds
    got = _sorted_rows(semantic_dedup(emb, cents, tau=0.99, max_cell=20))
    assert got == capped


def test_kmeans_fit_arrow_matches_column_assignments(emb, vecs):
    """kmeans_fit equals a reference Lloyd's loop (same seeds, cosine
    assignment with lowest-cell ties, L2-normalized cell sums, empty
    cells keep their centroid) up to float-sum order, and both
    centroid sets assign every vector to the same cell."""
    k, n_iter = 4, 3
    seeds = emb.orderBy(
        F.xxhash64(F.col("vec_id").cast("string")), F.col("vec_id")
    ).limit(k).collect()
    cents = [_unit([float(x) for x in r["embedding"]]) for r in seeds]
    for _ in range(n_iter):
        sums = [[0.0] * DIMS for _ in range(k)]
        for i in sorted(vecs):
            c = _assign(vecs[i], cents)
            sums[c] = [s + x for s, x in zip(sums[c], vecs[i])]
        cents = [_unit(s) if any(s) else cents[c] for c, s in enumerate(sums)]

    got = kmeans_fit(emb, k=k, n_iter=n_iter)
    for vg, vr in zip(got, cents):
        for xg, xr in zip(vg, vr):
            assert xg == pytest.approx(xr, rel=1e-9, abs=1e-12)
    assert all(_assign(v, got) == _assign(v, cents) for v in vecs.values())


def test_simhash_arrow_bitparity(spark):
    """dedup.simhash equals the reference fingerprint exactly (60-bit
    md5 token prefix, ±1 balances per bit) — including null text,
    empty text, runs of spaces, and repeated docs."""
    from solrizer_spark.operators.dedup import simhash

    rng = random.Random(21)
    words = [f"w{i}" for i in range(50)]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 60))))
        for i in range(80)
    ] + [(100, None), (101, ""), (102, "a  b   c "), (103, "w1 w2 w3")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dict(df.select("doc_id", simhash("text").alias("a")).collect())
    assert got == {i: _simhash(t) for i, t in rows}
    assert got[100] is None


def test_simhash_pairs_arrow_equals_column(spark):
    """simhash_near_dup_pairs equals every (i<j) pair of reference
    fingerprints within hamming 3 (no bucket cap binds here, so the
    pigeonhole banding has total recall)."""
    from solrizer_spark.operators.dedup import simhash_near_dup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, base + f" tail{i}") for i in range(20)] + [
        (100, base + " tail1"),  # exact text dup of 1 -> hamming 0
        (200, "a wholly different document about completely other topics"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {i: _simhash(t) for i, t in rows}
    want = sorted(
        (a, b, h) for a, b in itertools.combinations(sorted(fps), 2)
        if (h := bin(fps[a] ^ fps[b]).count("1")) <= 3
    )
    got = sorted(tuple(r) for r in simhash_near_dup_pairs(df, max_hamming=3).collect())
    assert got == want
    assert (1, 100, 0) in got
