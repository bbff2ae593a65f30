"""Per-query profiling harness (round 6, guide §1).

Times each bench query with the SAME action as bench.py, then pulls
job/stage metrics from the local Spark REST API: number of jobs,
stages, tasks, and shuffle read/write bytes attributable to that
query. Output: JSON to stdout (and optionally a file via argv[1]).

This is a measurement-only tool — bench.py stays frozen.
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


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    import __spark_entry__ as em
    from solrizer_spark.session import get_spark

    spark = get_spark(
        app_name="solrizer-profile",
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    app_id = spark.sparkContext.applicationId

    qs = {**em.queries(), **em.component_queries()}

    force_col = {
        "dedup_simhash": "simhash32",
        "facet_labels": "contributor",
        "chunk_text": "chunk_n_tokens",
        "outlinks": "links",
        "model_score": "score",
        "media_features": "value",
        "bpe_tokens": "n_bpe_tokens",
        "fetch_schedule": "slot_exact",
        "lm_score": "mean_p",
        "lm_backoff": "mean_p",
        "inverted_postings": "posting_rank",
        "tfidf_keywords": "score",
        "keyword_search": "score",
        "substring_dedup": "n_tokens_dropped",
        "semantic_dedup": "cell",
        "importance_resample": "selected",
        "html_metadata": "published_time",
    }
    iterative = {
        "dedup_clusters", "pagerank", "bpe_tokens",
        "semantic_dedup", "importance_resample", "ann_pq",
    }
    names = [
        "page_sequence", "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
        "dedup_simhash_pairs", "dedup_clusters", "decontaminate",
        "embedding_near_dup", "ann_bruteforce", "text_stats",
        "lang_facet_counts", "facet_labels", "chunk_text", "line_dedup",
        "temperature_mix", "outlinks", "model_score", "media_features",
        "domain_stats", "robots_filter", "bpe_word_counts", "bpe_tokens",
        "substring_dedup", "semantic_dedup", "importance_resample",
        "pagerank", "fetch_schedule", "lm_score", "lm_backoff", "anchors",
        "crawl_delay_schedule", "dedup_incremental", "inverted_postings",
        "tfidf_keywords", "keyword_search", "html_metadata", "ann_pq",
    ]
    if only:
        names = [n for n in names if n in only]

    # warm the worker pool so profiles are steady-state
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(cpus)
    docs.agg(F.count(F.lit(1))).collect()

    out: dict[str, dict] = {}
    for name in names:
        counted = (
            F.count(F.col(force_col[name])) if name in force_col else F.count(F.lit(1))
        )
        sc = spark.sparkContext
        jobs_before = {j["jobId"] for j in _rest(spark, f"/{app_id}/jobs")}
        sc.setJobDescription(f"profile:{name}")
        t_build0 = time.monotonic()
        df = qs[name](spark, sf_dir)
        t_build = time.monotonic() - t_build0
        # first (timed like bench steady: repeat 2x, keep best) run
        runs = []
        for i in range(2):
            if name in iterative and i > 0:
                t0 = time.monotonic()
                df = qs[name](spark, sf_dir)
                runs_build = time.monotonic() - t0
            t0 = time.monotonic()
            df.agg(counted).collect()
            runs.append(round(time.monotonic() - t0, 3))
        sc.setJobDescription(None)
        jobs = [
            j for j in _rest(spark, f"/{app_id}/jobs")
            if j["jobId"] not in jobs_before
        ]
        n_stages = sum(len(j["stageIds"]) for j in jobs)
        n_tasks = sum(j["numTasks"] for j in jobs)
        # stage-level shuffle bytes
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        sread = swrite = 0
        for s in _rest(spark, f"/{app_id}/stages"):
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE":
                sread += s.get("shuffleReadBytes", 0)
                swrite += s.get("shuffleWriteBytes", 0)
        out[name] = {
            "best_s": min(runs),
            "runs": runs,
            "build_s": round(t_build, 3),
            "n_jobs": len(jobs),
            "n_stages": n_stages,
            "n_tasks": n_tasks,
            "shuffle_read_mb": round(sread / 1e6, 2),
            "shuffle_write_mb": round(swrite / 1e6, 2),
        }
        print(f"{name:26s} best={min(runs):7.3f}s build={t_build:6.3f}s "
              f"jobs={len(jobs):3d} stages={n_stages:3d} tasks={n_tasks:5d} "
              f"shufW={swrite/1e6:8.2f}MB", flush=True)

    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
