"""Recall floors of the bucketed near-dup pair generators, measured
against exact ground truth on planted near-duplicates.

Corpus: ``N_BASE`` base documents of 60 words each over doc-unique
vocabularies, so cross-doc overlap is exactly zero and the planted
pairs are the only true pairs. Every 5th doc gets a mutated copy with
a mutation rate cycling through {5, 7.5, 10, 20, 30, 40}% of words,
which sweeps the true 3-shingle Jaccard through the LSH S-curve. The
true Jaccard of each planted pair is computed exactly in Python from
the same construction. (The round-5 run of the same measurement at
24k docs is ``BENCH/dedup_recall_r5.json``.)

* MinHash-LSH (``minhash_lsh_pairs``, 64 hashes x 16 bands, threshold
  0.5), on its driver and its distributed path: recall per
  true-Jaccard band is at least the candidate
  probability ``1-(1-s^4)^16`` minus 0.08 (sampling noise), and at
  least 0.95 for s >= 0.7. Verification is exact, so no unplanted
  pair is ever emitted.
* SimHash (``simhash_near_dup_pairs``, 32 bits, hamming <= 3, 4
  chunks): the pigeonhole guarantee is total recall within the bucket
  caps. Every planted pair whose fingerprint distance (recomputed from
  the engine's own fingerprints) is <= 3 is emitted, and every emitted
  pair is truly within the radius. A 32-bit fingerprint also yields
  rare accidental close pairs between unrelated docs; those are real
  hits, not failures.
"""

from __future__ import annotations

import pytest

N_BASE = 2_000
WORDS_PER_DOC = 60
SHINGLE_N = 3
MUT_RATES = (0.05, 0.075, 0.10, 0.20, 0.30, 0.40)
THRESHOLD = 0.5


def build_corpus(n_base: int):
    """Deterministic rows ``(doc_id, text)`` plus the exact shingle
    Jaccard of each planted pair."""
    rows, planted = [], {}

    def shingles(ws):
        return {" ".join(ws[k : k + SHINGLE_N]) for k in range(len(ws) - SHINGLE_N + 1)}

    for i in range(n_base):
        words = [f"w{i}_{j}" for j in range(WORDS_PER_DOC)]
        rows.append((i, " ".join(words)))
        if i % 5 == 0:
            rate = MUT_RATES[(i // 5) % len(MUT_RATES)]
            n_mut = round(rate * WORDS_PER_DOC)
            mutated = list(words)
            # spread mutations evenly: the worst case for shingle overlap
            step = WORDS_PER_DOC / n_mut
            for m in range(n_mut):
                mutated[int(m * step)] = f"x{i}_{m}"
            dup_id = n_base + i
            rows.append((dup_id, " ".join(mutated)))
            sa, sb = shingles(words), shingles(mutated)
            planted[(i, dup_id)] = len(sa & sb) / len(sa | sb)
    return rows, planted


@pytest.fixture(scope="module")
def recall_corpus(spark):
    rows, planted = build_corpus(N_BASE)
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(4).persist()
    docs.count()
    yield docs, planted
    docs.unpersist()


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_minhash_lsh_recall_floor(recall_corpus, path, monkeypatch):
    from solrizer_spark.operators import dedup

    if path == "distributed":
        monkeypatch.setattr(dedup, "DRIVER_LSH_MAX_BYTES", 0)
    docs, planted = recall_corpus
    stats: dict = {}
    pairs = dedup.minhash_lsh_pairs(docs, threshold=THRESHOLD, stats=stats)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert stats["path"] == path
    assert not got - set(planted), "unplanted pairs emitted"
    bands: dict[int, list] = {}
    for pair, s in planted.items():
        if s >= THRESHOLD:
            bands.setdefault(int(s * 10), []).append((s, pair in got))
    assert len(bands) >= 2
    for lo, members in sorted(bands.items()):
        s_mean = sum(s for s, _ in members) / len(members)
        recall = sum(hit for _, hit in members) / len(members)
        theory = 1 - (1 - s_mean**4) ** 16
        assert recall >= theory - 0.08, (lo, recall, theory)
        if s_mean >= 0.7:
            assert recall >= 0.95, (lo, recall)


def test_simhash_recall_within_radius(recall_corpus):
    from solrizer_spark.operators.dedup import simhash, simhash_near_dup_pairs

    docs, planted = recall_corpus
    got = {
        (r["id_a"], r["id_b"]) for r in simhash_near_dup_pairs(docs, max_hamming=3).collect()
    }
    fps = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", simhash("text", 32).alias("fp")).collect()}

    def dist(a, b):
        return bin(fps[a] ^ fps[b]).count("1")

    assert all(dist(a, b) <= 3 for a, b in got)
    expected = {pair for pair in planted if dist(*pair) <= 3}
    assert expected and expected <= got
