"""Stage-level profile of the heaviest bench paths (round 6, guide §1).

For each target: run the bench action once warm, then list that
query's stages sorted by executorRunTime with task counts and shuffle
bytes. Covers the extract chain, bloom build/dedup, and any named
operator query. Measurement-only; bench.py stays frozen.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rest(spark, path):
    base = spark.sparkContext.uiWebUrl
    with urllib.request.urlopen(f"{base}/api/v1/applications{path}") as r:
        return json.loads(r.read())


def profile(spark, app_id, name, fn, runs=2):
    sc = spark.sparkContext
    jobs_before = {j["jobId"] for j in _rest(spark, f"/{app_id}/jobs")}
    sc.setJobDescription(f"stageprof:{name}")
    times = []
    for _ in range(runs):
        t0 = time.monotonic()
        fn()
        times.append(round(time.monotonic() - t0, 3))
    sc.setJobDescription(None)
    jobs = [j for j in _rest(spark, f"/{app_id}/jobs") if j["jobId"] not in jobs_before]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [
        s for s in _rest(spark, f"/{app_id}/stages")
        if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
    ]
    stages.sort(key=lambda s: -(s.get("executorRunTime", 0)))
    print(f"\n=== {name}: times={times} jobs={len(jobs)} stages={len(stages)} ===")
    for s in stages[:12]:
        wall = None
        if s.get("firstTaskLaunchedTime") and s.get("completionTime"):
            pass
        print(
            f"  stage {s['stageId']:4d} tasks={s['numCompleteTasks']:4d} "
            f"runTime={s.get('executorRunTime',0)/1e3:7.2f}s "
            f"cpuTime={s.get('executorCpuTime',0)/1e9:7.2f}s "
            f"sRead={s.get('shuffleReadBytes',0)/1e6:7.2f}MB "
            f"sWrite={s.get('shuffleWriteBytes',0)/1e6:7.2f}MB  "
            f"{s.get('name','')[:70]}"
        )
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mult = int(os.environ.get("SPARK_GRAFT_BENCH_MULT", "20"))
    targets = sys.argv[1].split(",") if len(sys.argv) > 1 else None

    import __spark_entry__ as em
    from solrizer_spark.operators.repartition import (
        partitions_for_bytes,
        salted_repartition,
    )
    from solrizer_spark.plans.pipeline import run_chain
    from solrizer_spark.session import get_spark

    spark = get_spark(
        app_name="solrizer-stageprof",
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    app_id = spark.sparkContext.applicationId

    def want(n):
        return targets is None or n in targets

    if want("extract"):
        base = em._wrap_pages(spark, sf_dir, boilerplate=True)
        replicas = spark.range(mult).select(F.col("id").alias("rep"))
        pages = (
            base.repartition(cpus)
            .crossJoin(F.broadcast(replicas))
            .withColumn("url", F.concat(F.col("url"), F.lit("?rep="), F.col("rep")))
            .drop("rep")
        )
        n_docs, html_bytes = pages.agg(
            F.count(F.lit(1)), F.sum(F.length("html"))
        ).collect()[0]
        n_parts = partitions_for_bytes(html_bytes or 0, cpus)
        pages = salted_repartition(pages, n_parts)
        warm = base.limit(cpus * 16).repartition(cpus)
        run_chain(warm).agg(F.count(F.lit(1))).collect()

        def run_extract():
            return run_chain(pages).agg(F.sum(F.length("doc"))).collect()[0][0]

        profile(spark, app_id, "extract_pipeline", run_extract, runs=3)

    if want("bloom"):
        from solrizer_spark.operators.bloom import bloom_build, bloom_dedup

        docs_tbl = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n_docs_tbl = docs_tbl.count()
        holder = {}

        def build():
            holder["bf"] = bloom_build(
                docs_tbl, "text", expected_items=max(n_docs_tbl, 1), fpp=0.001
            )

        profile(spark, app_id, "bloom_build", build, runs=2)
        increment = docs_tbl.select("text").unionByName(
            docs_tbl.select(F.concat(F.lit("new "), F.col("text")).alias("text"))
        )
        profile(
            spark, app_id, "bloom_dedup",
            lambda: bloom_dedup(increment, "text", holder["bf"])
            .agg(F.count("text")).collect(),
            runs=2,
        )

    for name, col in (
        ("dedup_simhash_pairs", None),
        ("dedup_minhash_lsh", None),
        ("embedding_near_dup", None),
        ("substring_dedup", "n_tokens_dropped"),
        ("dedup_incremental", None),
        ("lm_backoff", "mean_p"),
        ("tfidf_keywords", "score"),
        ("model_score", "score"),
        ("media_features", "value"),
    ):
        if not want(name):
            continue
        fn = getattr(em, f"q_{name}")
        df = fn(spark, sf_dir)
        counted = F.count(F.col(col)) if col else F.count(F.lit(1))
        df.agg(counted).collect()  # warm (persist fills, codegen)
        profile(spark, app_id, name, lambda d=df, c=counted: d.agg(c).collect(), runs=2)

    for name in ("dedup_clusters", "pagerank", "ann_pq", "semantic_dedup",
                 "importance_resample"):
        if not want(name):
            continue
        fn = getattr(em, f"q_{name}")
        col = {"ann_pq": None, "semantic_dedup": "cell",
               "importance_resample": "selected"}.get(name)
        counted = F.count(F.col(col)) if col else F.count(F.lit(1))
        fn(spark, sf_dir).agg(counted).collect()  # warm
        profile(
            spark, app_id, name,
            lambda f=fn, c=counted: f(spark, sf_dir).agg(c).collect(),
            runs=2,
        )

    spark.stop()


if __name__ == "__main__":
    main()
