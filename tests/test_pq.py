"""Product quantization (PQ) — operators/similarity.py.

Engine-original scale path for ANN over 10^12 vectors (no reference
analog; the reference consumes binary files single-request,
src/solrizer/indexers/extracted_text.py:89-111). Design:
Jégou/Douze/Schmid 2011; the integer-quantized ADC LUT follows the
FAISS fast-scan practice so shortlist sums are order-free.
"""

import math
import random

import pytest

from solrizer_spark.operators.similarity import (
    brute_force_topk,
    pq_encode,
    pq_lut,
    pq_topk,
    pq_train,
)

DIMS, M, K = 16, 4, 8


def _vecs(n, seed=7):
    rng = random.Random(seed)
    return [
        (i, [rng.uniform(-1, 1) for _ in range(DIMS)]) for i in range(n)
    ]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(
        _vecs(200), "vec_id long, embedding array<float>"
    ).cache()


def test_pq_train_shape_and_determinism(emb):
    b1 = pq_train(emb, m=M, k=K, n_iter=2)
    b2 = pq_train(emb, m=M, k=K, n_iter=2)
    assert len(b1) == M and len(b1[0]) == K and len(b1[0][0]) == DIMS // M
    assert b1 == b2, "training must be bit-deterministic for the oracle"


def test_pq_train_dims_not_divisible(emb):
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, m=5, k=K, n_iter=1)


def test_pq_encode_is_argmin(emb):
    """Every emitted codeword index must be the true L2 argmin
    (ties → lowest index), checked against a driver-side recompute
    over the exact same float32-rounded vectors."""
    books = pq_train(emb, m=M, k=K, n_iter=2)
    ds = DIMS // M
    rows = pq_encode(emb, books).select("vec_id", "embedding", "pq_code").collect()
    assert rows
    for r in rows:
        vec = [float(x) for x in r["embedding"]]
        for j in range(M):
            sv = vec[j * ds : (j + 1) * ds]
            dists = [
                sum((a - b) ** 2 for a, b in zip(sv, c)) for c in books[j]
            ]
            assert r["pq_code"][j] == dists.index(min(dists))


def test_pq_lut_integer_quantization():
    books = [[[0.0, 1.0], [2.0, -1.0]], [[0.5, 0.5], [0.0, 0.0]]]
    q = [1.0, 1.0, 1.0, 1.0]
    lut = pq_lut(q, books)
    assert all(isinstance(v, int) and v >= 0 for row in lut for v in row)
    # exact quantized values of ||q_sub - c||^2 * 2^20
    assert lut[0][0] == round((1.0**2 + 0.0**2) * (1 << 20))
    assert lut[0][1] == round(((-1.0) ** 2 + 2.0**2) * (1 << 20))
    assert lut[1][1] == round((1.0**2 + 1.0**2) * (1 << 20))


def test_pq_topk_recall_and_rerank_exactness(emb):
    """Shortlist+re-rank: every returned cos_sim must equal the exact
    brute-force cosine for that id, and recall@10 vs exact top-10
    must clear the floor (deterministic data → deterministic value)."""
    books = pq_train(emb, m=M, k=K, n_iter=3)
    q = [((d % 5) - 2) / 2.0 for d in range(DIMS)]
    got = pq_topk(emb, q, books, k=10, shortlist=40).collect()
    assert len(got) == 10
    exact = {r["vec_id"]: r["cos_sim"] for r in brute_force_topk(emb, q, k=200).collect()}
    for r in got:
        assert r["cos_sim"] == exact[r["vec_id"]], "re-rank must be exact cosine"
    top10 = sorted(exact, key=lambda i: (-exact[i], i))[:10]
    recall = len({r["vec_id"] for r in got} & set(top10)) / 10
    assert recall >= 0.7, f"recall@10 {recall} below floor"


def test_pq_encode_tie_breaks_lowest(spark):
    """Two identical codewords → first (lowest) index wins in every
    subspace, matching the oracle's ORDER BY d ASC, cell ASC."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    books = [
        [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]],
        [[1.0, 0.0], [0.0, 1.0], [0.0, 1.0]],
    ]
    assert pq_encode(df, books).first()["pq_code"] == [0, 1]


def test_pq_empty_cell_keeps_previous_codeword(spark):
    """k larger than the number of distinct points leaves some cells
    empty every round; those must keep their previous codeword, not
    divide by zero or drift to NaN."""
    pts = [(i, [float(i % 2), 0.0]) for i in range(8)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    books = pq_train(df, m=1, k=4, n_iter=3)
    flat = [w for c in books[0] for w in c]
    assert all(math.isfinite(w) for w in flat)


def test_pq_code_compression_shape(emb):
    """The stored code is exactly m small ints — the 10^12-scale
    artifact ADC scans instead of raw vectors."""
    books = pq_train(emb, m=M, k=K, n_iter=1)
    schema = dict(pq_encode(emb, books).dtypes)
    assert schema["pq_code"] == "array<int>"
    code = pq_encode(emb, books).select("pq_code").first()["pq_code"]
    assert len(code) == M and all(0 <= c < K for c in code)


def test_pq_topk_stored_codes_match_on_the_fly(emb):
    """Pre-encoded codes (the 10^12 stored-column shape) must produce
    the identical result to on-the-fly encoding."""
    books = pq_train(emb, m=M, k=K, n_iter=2)
    q = [((d % 5) - 2) / 2.0 for d in range(DIMS)]
    fly = pq_topk(emb, q, books, k=5, shortlist=40).collect()
    stored = pq_topk(
        pq_encode(emb, books), q, books, k=5, shortlist=40, code_col="pq_code"
    ).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in fly] == [
        (r["vec_id"], r["cos_sim"]) for r in stored
    ]


def test_pq_train_fraction_samples_deterministically(emb):
    """train_fraction: same fraction → same codebooks (hash sample);
    the sampled training set is a strict subset, so codebooks differ
    from full-data training but encode/search still cover ALL rows."""
    b_full = pq_train(emb, m=M, k=K, n_iter=2)
    b_a = pq_train(emb, m=M, k=K, n_iter=2, train_fraction=0.5)
    b_b = pq_train(emb, m=M, k=K, n_iter=2, train_fraction=0.5)
    assert b_a == b_b
    assert b_a != b_full
    coded = pq_encode(emb, b_a)
    assert coded.count() == emb.count(), "encode covers the full input"
