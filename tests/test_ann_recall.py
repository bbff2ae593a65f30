"""Recall floor of the IVF approximate top-k, measured against exact
neighbours on planted clusters.

Corpus: ``N_VECTORS`` 64-dim vectors in ``N_CLUSTERS`` planted clusters,
``vec(i) = center(i % 16) + 0.1 * noise(i)``, both from md5 pseudo
coordinates in [-0.5, 0.5), so the exact top-10 of every vector lies
in its own cluster and a working IVF can recover it. (The round-5 run
of the same measurement at 50k vectors in 64 clusters, with the LSH
and PQ rows, is ``BENCH/ann_recall_r5.json``.)

For the first ``N_QUERIES`` vectors (one per cluster), ground truth is
the exact cosine top-10 computed in numpy on the driver, the query
itself excluded, ranked as ``brute_force_topk`` ranks (cosine rounded
to 6 places, descending, then id). ``ivf_topk`` over ``kmeans_fit``
centroids must not lose recall as ``nprobe`` grows 1 -> 2 -> 4, and
reaches at least 0.8 at nprobe 4. A probe over a stored cell column
(the production shape: the cell is assigned once and a probe scans
only its cells) gives the same recall as ``ivf_topk`` at the same
nprobe. The PQ floor is in ``test_pq.py``.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

N_VECTORS = 2_048
DIMS = 64
N_CLUSTERS = 16
N_QUERIES = 5
K = 10
NPROBES = (1, 2, 4)


def _pseudo(*parts) -> float:
    """md5 pseudo coordinate in [-0.5, 0.5)."""
    h = hashlib.md5(":".join(map(str, parts)).encode()).hexdigest()
    return int(h[:8], 16) / 0xFFFFFFFF - 0.5


def build_clustered() -> list[tuple[int, list[float]]]:
    centers = [[_pseudo("c", c, d) for d in range(DIMS)] for c in range(N_CLUSTERS)]
    return [
        (i, [centers[i % N_CLUSTERS][d] + 0.1 * _pseudo("n", i, d) for d in range(DIMS)])
        for i in range(N_VECTORS)
    ]


def exact_topk(vecs: np.ndarray, qid: int) -> set[int]:
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = np.round(unit @ unit[qid], 6)
    order = [i for i in np.lexsort((np.arange(len(vecs)), -cos)) if i != qid]
    return set(order[:K])


def _cos(a, b):
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return sum(x * y for x, y in zip(a, b)) / (na * nb)


@pytest.fixture(scope="module")
def recalls(spark):
    """Mean recall@10 of each variant over the queries."""
    from solrizer_spark.operators.similarity import (
        assign_ivf_cell_sim,
        brute_force_topk,
        ivf_topk,
        kmeans_fit,
    )
    from solrizer_spark.session import release

    rows = build_clustered()
    vecs = np.array([v for _, v in rows])
    queries = rows[:N_QUERIES]
    truth = {qid: exact_topk(vecs, qid) for qid, _ in queries}
    # each query is one job over every partition; 1 MB needs only one
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1).persist()

    def mean_recall(base, topk):
        """Mean recall of ``topk(df, query)``, ``df`` = ``base`` without the query."""
        return sum(
            len(truth[qid] & {r.vec_id for r in topk(base.where(F.col("vec_id") != qid), qv).collect()})
            / K
            for qid, qv in queries
        ) / len(queries)

    cents = kmeans_fit(corpus, k=N_CLUSTERS, n_iter=3)
    out = {
        f"ivf{p}": mean_recall(corpus, lambda df, qv, p=p: ivf_topk(df, qv, cents, k=K, nprobe=p))
        for p in NPROBES
    }

    # checkpointed, so each probe plans a scan, not the centroid literals
    celled = corpus.withColumn("_cell", assign_ivf_cell_sim(F.col("embedding"), cents)["cell"]).localCheckpoint()

    def stored_probe(df, qv, nprobe=2):
        cells = sorted(range(len(cents)), key=lambda i: (-_cos(qv, cents[i]), i))[:nprobe]
        return brute_force_topk(df.where(F.col("_cell").isin(cells)), qv, k=K)

    out["stored2"] = mean_recall(celled, stored_probe)
    release(celled)
    corpus.unpersist()
    return out


def test_ivf_recall_rises_with_nprobe(recalls):
    r1, r2, r4 = (recalls[f"ivf{p}"] for p in NPROBES)
    assert r1 <= r2 <= r4, recalls
    assert r4 >= 0.8, recalls


def test_stored_cell_probe_matches_ivf_topk(recalls):
    assert recalls["stored2"] == recalls["ivf2"], recalls
