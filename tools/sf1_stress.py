"""sf1 scale-stress for the LSH / connected-components / incremental
dedup family (round-4 verdict item 6).

The driver ships testdata up to sf0.1 (5k documents); this harness
synthesizes **sf1 = 10× bench scale (50k docs)** deterministically by
replicating the sf0.1 documents table 10× with distinct ids and a
per-replica token appended to the text, so replicas of one document
are NEAR duplicates (high shingle overlap) rather than byte copies —
the worst realistic shape for banded LSH. On top of that it plants a
DEGENERATE cluster: every 50th base doc's text (all 10 replicas) is
replaced by one constant string, so ~1,000 docs collapse into single
LSH buckets per band — far past the ``max_bucket=64`` cap — to prove
the pre-aggregation cap holds at scale, not just in unit tests.

Measured per stage (wall seconds + shuffle read/write bytes via the
Spark UI REST API, diffed between stages):

* ``lsh_pairs``     — minhash_lsh_pairs end-to-end (count action)
* ``cc``            — connected_components over those pairs
* ``incremental``   — dedup_against_base: newest replica (10%) vs
                      the other nine replicas as base corpus

Assertions (hard-fail the artifact):

* max rows per (band, bucket) AFTER cap ≤ max_bucket,
* the degenerate cluster emits ≤ C(64,2) pairs per band bound, and
  its pair count is recorded,
* CC converges (stats["converged"]) and the round count is recorded.

Usage: python tools/sf1_stress.py [--reps 10] → JSON on stdout
(tee to BENCH/sf1_stress_r{N}.json).
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

sys.path.insert(0, ".")

from pyspark.sql import functions as F


def ui_shuffle_totals(ui_port: int = 4040) -> dict[str, int]:
    """Cumulative shuffle read/write bytes across all completed stages
    (Spark UI REST; local mode, single app)."""
    try:
        with urllib.request.urlopen(
            f"http://localhost:{ui_port}/api/v1/applications", timeout=5
        ) as r:
            apps = json.load(r)
        app_id = apps[0]["id"]
        with urllib.request.urlopen(
            f"http://localhost:{ui_port}/api/v1/applications/{app_id}/stages"
            "?status=complete",
            timeout=5,
        ) as r:
            stages = json.load(r)
        return {
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
        }
    except Exception as exc:  # UI scrape is best-effort evidence
        return {"shuffle_write_bytes": -1, "shuffle_read_bytes": -1, "err": str(exc)}


def main() -> None:
    reps = 10
    for a, arg in enumerate(sys.argv):
        if arg == "--reps" and a + 1 < len(sys.argv):
            reps = int(sys.argv[a + 1])

    from solrizer_spark.operators.dedup import (
        cap_bucket_rows,
        connected_components,
        dedup_against_base,
        minhash_lsh_pairs,
        minhash_sketch,
    )
    from solrizer_spark.session import get_spark

    spark = get_spark(
        app_name="sf1-stress",
        cpus=32,
        shuffle_partitions=64,
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    base_docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    docs = (
        base_docs.crossJoin(F.broadcast(rep))
        .select(
            (F.col("doc_id") * reps + F.col("rep")).alias("doc_id"),
            F.when(
                F.col("doc_id") % 50 == 0,
                # the degenerate cluster: one constant body shared by
                # every replica of every 50th base doc (~reps * n/50
                # identical rows; at reps=10/sf0.1 that is 1,000)
                F.lit(
                    "HOT CLUSTER BODY the same boilerplate page body "
                    "repeated verbatim across the whole mirror farm"
                ),
            ).otherwise(
                F.concat(F.col("text"), F.lit(" replica"), F.col("rep").cast("string"))
            ).alias("text"),
            F.col("rep"),
        )
        # the sf0.1 parquet is one file → one partition; without this
        # the whole 10× corpus' shingling/minhashing runs in ONE task
        .repartition(64, "doc_id")
        .persist()
    )
    n_docs = docs.count()

    out: dict = {"sf": 1.0, "n_docs": n_docs, "reps": reps, "stages": {}}
    max_bucket = 64

    def measure(name: str, fn):
        before = ui_shuffle_totals()
        t0 = time.monotonic()
        result = fn()
        wall = time.monotonic() - t0
        after = ui_shuffle_totals()
        out["stages"][name] = {
            "wall_sec": round(wall, 2),
            "shuffle_write_bytes": after["shuffle_write_bytes"]
            - before["shuffle_write_bytes"],
            "shuffle_read_bytes": after["shuffle_read_bytes"]
            - before["shuffle_read_bytes"],
        }
        return result

    # --- capped-bucket occupancy probe (the degenerate-bucket claim):
    # the band keys of minhash_lsh_pairs' kernel, occupancy counted
    # after cap_bucket_rows
    def bucket_probe():
        # materialize the sketch BEFORE banding, as minhash_lsh_pairs'
        # distributed path does: each reader would otherwise re-run
        # the kernel
        sig_df = docs.select(
            F.col("doc_id").alias("_id"), minhash_sketch("text").alias("_mh")
        ).persist()
        sig_df.count()
        banded = sig_df.select("_id", F.posexplode("_mh.bk").alias("band", "key"))
        uncapped = (
            banded.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("mx"))
            .collect()[0]["mx"]
        )
        capped = cap_bucket_rows(
            banded, [F.col("band"), F.col("key")], [F.col("_id")], max_bucket
        )
        capped_mx = (
            capped.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("mx"))
            .collect()[0]["mx"]
        )
        sig_df.unpersist()
        return uncapped, capped_mx

    uncapped_mx, capped_mx = measure("bucket_probe", bucket_probe)
    out["max_bucket_cap"] = max_bucket
    out["max_bucket_rows_uncapped"] = uncapped_mx
    out["max_bucket_rows_after_cap"] = capped_mx
    assert capped_mx <= max_bucket, (
        f"cap violated at scale: {capped_mx} > {max_bucket}"
    )
    assert uncapped_mx > max_bucket, (
        "degenerate cluster did not exceed the cap — stress shape broken"
    )

    # --- stage 1: LSH pair generation over the full sf1 corpus
    pairs = minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", max_bucket=max_bucket
    ).persist()
    n_pairs = measure("lsh_pairs", pairs.count)
    out["n_pairs"] = n_pairs
    # the degenerate cluster's survivors: capped to max_bucket lowest
    # ids per band-bucket, so its pair fan-out is bounded by C(64,2)
    hot_ids = docs.where(
        F.col("text").startswith("HOT CLUSTER BODY")
    ).select(F.col("doc_id").alias("id_a"))
    hot_pairs = pairs.join(hot_ids, "id_a", "left_semi").count()
    out["hot_cluster_pairs"] = hot_pairs
    bound = max_bucket * (max_bucket - 1) // 2
    assert hot_pairs <= bound, f"hot-cluster fan-out {hot_pairs} > C(64,2)={bound}"

    # --- stage 2: connected components over the pair list
    stats: dict = {}
    comps = measure(
        "cc",
        lambda: connected_components(pairs, stats=stats).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("component").alias("k"),
        ).collect()[0],
    )
    out["cc_nodes"] = comps["n"]
    out["cc_components"] = comps["k"]
    out["cc_path"] = stats.get("path")
    out["cc_rounds"] = stats.get("rounds")
    out["cc_converged"] = stats.get("converged")
    assert stats.get("converged"), "CC did not converge at sf1"

    # --- stage 3: incremental dedup — newest replica vs the rest
    increment = docs.where(F.col("rep") == reps - 1).select("doc_id", "text")
    base_corpus = docs.where(F.col("rep") < reps - 1).select("doc_id", "text")
    kept = measure(
        "incremental",
        lambda: dedup_against_base(
            increment, base_corpus, id_col="doc_id", text_col="text"
        ).count(),
    )
    out["incremental_in"] = increment.count()
    out["incremental_kept"] = kept
    # every increment doc is a near-dup of its 9 base replicas (or an
    # exact dup inside the hot cluster) — survivors should be rare
    assert kept < out["incremental_in"], "incremental dedup dropped nothing"

    out["wall_sec_total"] = round(
        sum(s["wall_sec"] for s in out["stages"].values()), 2
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
