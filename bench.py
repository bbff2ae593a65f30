"""Benchmark harness — one JSON line to stdout.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``.
Without ``$SPARK_GRAFT_CPUS``, ``get_spark`` takes one slot per CPU in
the affinity mask.

The flagship measurement is the full extraction field-chain over a
deterministic HTML wrap of the ``documents`` table, replicated
``$SPARK_GRAFT_BENCH_MULT``× (default 20×, ≈100k pages at sf0.1) with
distinct urls — measuring docs/sec through the pandas-UDF extraction
stage, the thing BASELINE.json's metric names. Scaling-efficiency
evidence (local[8] vs local[32]) is produced by tools/scaling_bench.py
and recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mult = int(os.environ.get("SPARK_GRAFT_BENCH_MULT", "20"))

    import __spark_entry__ as em
    from solrizer_spark.operators.repartition import (
        partitions_for_bytes,
        salted_repartition,
    )
    from solrizer_spark.plans.pipeline import run_chain
    from solrizer_spark.session import get_spark

    spark = get_spark(app_name="solrizer-bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    timings: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.monotonic()
        out = fn()
        timings[name] = round(time.monotonic() - t0, 3)
        return out

    # -- flagship: extraction pipeline at ~mult×documents scale --------
    base = em._wrap_pages(spark, sf_dir, boilerplate=True)
    replicas = spark.range(mult).select(F.col("id").alias("rep"))
    pages = (
        # repartition BEFORE the replicate: the documents table is one
        # small parquet file = one scan partition, which would otherwise
        # serialize the page construction and the shuffle write
        base.repartition(cpus)
        .crossJoin(F.broadcast(replicas))
        .withColumn("url", F.concat(F.col("url"), F.lit("?rep="), F.col("rep")))
        .drop("rep")
    )
    # size the UDF-stage partitioning by bytes (one wave at this input
    # size; 64 MB partitions at scale) — the same heuristic the job
    # surface uses, profiled 2.3× faster than the old cpus*4 layout at
    # 100k docs (per-task Arrow round-trip dominated; BENCH/BASELINE.md
    # round 5)
    n_docs, html_bytes = pages.agg(
        F.count(F.lit(1)), F.sum(F.length("html"))
    ).collect()[0]
    n_parts = partitions_for_bytes(html_bytes or 0, cpus)
    pages = salted_repartition(pages, n_parts)

    # warm the Python worker pool on EVERY core (long-lived on a real
    # cluster; the first pandas-UDF action otherwise pays interpreter
    # spin-up × cpus inside the measurement). limit() alone collapses
    # to one partition and warms a single worker — repartition first.
    warm = base.limit(cpus * 16).repartition(cpus)
    run_chain(warm).agg(F.count(F.lit(1))).collect()

    def run_extract():
        out = run_chain(pages)
        # force full materialization of the doc column (defeats
        # column pruning of the UDF output)
        return out.agg(F.sum(F.length("doc"))).collect()[0][0]

    # cold = first execution (codegen compile + remaining worker ramp);
    # steady = best of 3 — representative of a long-running multi-hour
    # extraction job, and robust to this sandbox VM's bursty CPU
    # allocation (identical runs vary several-fold; see BENCH/BASELINE.md)
    timed("extract_pipeline", run_extract)
    steady = []
    for i in range(3):
        timed(f"_steady_{i}", run_extract)
        steady.append(timings.pop(f"_steady_{i}"))
    timings["extract_pipeline_steady"] = min(steady)

    # -- engine-only variant: input materialized once --------------------
    # The steady number above recomputes the bench's page SYNTHESIS
    # (scan → repartition → crossJoin replicate → salted repartition,
    # ~2 s of the ~4 s at sf0.1×20) inside every timed run. A real job
    # reads an existing pages table (job.py: scan → ONE salted
    # repartition → chain), so the chain-only cost over materialized
    # input is the engine's own throughput. Reported separately —
    # NOT in the r1-comparable headline set (accounting C unchanged).
    pages_mat = pages.persist()
    pages_mat.count()
    cached_runs = []
    for i in range(3):
        timed(f"_cached_{i}", lambda: run_chain(pages_mat)
              .agg(F.sum(F.length("doc"))).collect())
        cached_runs.append(timings.pop(f"_cached_{i}"))
    timings["extract_pipeline_inputcached"] = min(cached_runs)
    pages_mat.unpersist()

    # -- realistic page sizes: ~8 KB HTML (Common-Crawl-ish) ------------
    import tempfile

    from solrizer_spark.corpus.generator import write_corpus

    big_dir = tempfile.mkdtemp(prefix="bench-bigpages-")
    paths = write_corpus(big_dir, n_pages=20_000, seed=42, size_factor=16, chunk_size=2500)
    big = spark.read.parquet(paths["pages"])
    n_big, bytes_big = big.agg(
        F.count(F.lit(1)), F.sum(F.length("html"))
    ).collect()[0]
    bytes_big = bytes_big or 0
    big = salted_repartition(big, partitions_for_bytes(bytes_big, cpus)).cache()
    big.count()
    run_chain(big.limit(cpus * 16).repartition(cpus)).agg(F.count(F.lit(1))).collect()

    def run_big():
        return run_chain(big).agg(F.sum(F.length("doc"))).collect()

    big_times = []
    for i in range(3):
        timed(f"_big_{i}", run_big)
        big_times.append(timings.pop(f"_big_{i}"))
    timings["extract_large_pages"] = min(big_times)
    large_mb_per_sec = round(bytes_big / 1e6 / timings["extract_large_pages"], 1)
    big.unpersist()
    import shutil

    shutil.rmtree(big_dir, ignore_errors=True)

    # -- operator queries at sf scale -----------------------------------
    # Round 5 consolidated the queries() registry into composite
    # entries (driver 50-row window); the bench keeps timing the
    # FINE-GRAINED component queries so per-operator timings stay
    # comparable round-over-round; ``component_queries()`` lists them.
    qs = {**em.queries(), **em.component_queries()}
    # Iterative queries (connected components) run real Spark jobs at
    # DataFrame-build time, so those must be rebuilt inside each timed
    # run. Everything else is a lazy plan: build it ONCE and time the
    # action best-of-k — the same accounting as round 1 (bench.py at
    # the BENCH_r01 snapshot built each query outside the loop). What
    # this measures, explicitly: steady-state query cost on a
    # long-running cluster — run 1 pays any one-time persist fill
    # (embedding_near_dup's LSH base) and min() excludes it, so the
    # per-query number is warm-cache by design, not a cold-start
    # figure. best-of-k because this VM's bursty CPU makes single
    # timings vary several-fold (BENCH/BASELINE.md).
    # bpe_tokens is here because its training stage (word-count
    # shuffle + top-k collect + merge loop) runs at DataFrame-build
    # time — building once outside the timed runs would hide it
    # semantic_dedup trains k-means and importance_resample collects
    # its ratio table at DataFrame-BUILD time — rebuilt inside each
    # timed run, same rule as bpe_tokens' merge learning
    iterative = {
        "dedup_clusters", "pagerank", "bpe_tokens",
        "semantic_dedup", "importance_resample", "ann_pq",
    }
    # pure-projection queries: count(lit(1)) lets Catalyst prune the
    # projected expressions entirely (even the Arrow UDF stage), so the
    # timing would measure a bare row-count scan. Counting a computed
    # column forces the projection. The r1 headline set keeps the
    # original count(1) action — its queries shuffle/join, where the
    # count already forces the work — so the headline stays comparable
    # round-over-round (text_stats is the one projection grandfathered
    # into that frozen set).
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
    for name in [
        "page_sequence",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_simhash_pairs",
        "dedup_clusters",
        "decontaminate",
        "embedding_near_dup",
        "ann_bruteforce",
        "text_stats",
        "lang_facet_counts",
        "facet_labels",
        "chunk_text",
        "line_dedup",
        "temperature_mix",
        "outlinks",
        "model_score",
        "media_features",
        "domain_stats",
        "robots_filter",
        "bpe_word_counts",
        "bpe_tokens",
        "substring_dedup",
        "semantic_dedup",
        "importance_resample",
        "pagerank",
        "fetch_schedule",
        "lm_score",
        "lm_backoff",
        "anchors",
        "crawl_delay_schedule",
        "dedup_incremental",
        "inverted_postings",
        "tfidf_keywords",
        "keyword_search",
        "html_metadata",
        "ann_pq",
    ]:
        runs = []
        counted = F.count(F.col(force_col[name])) if name in force_col else F.count(F.lit(1))
        if name in iterative:
            for i in range(2):
                timed(
                    f"_{name}_{i}",
                    lambda q=qs[name], c=counted: q(spark, sf_dir).agg(c).collect(),
                )
                runs.append(timings.pop(f"_{name}_{i}"))
        else:
            out = qs[name](spark, sf_dir)
            for i in range(3):
                timed(f"_{name}_{i}", lambda o=out, c=counted: o.agg(c).collect())
                runs.append(timings.pop(f"_{name}_{i}"))
        timings[name] = min(runs)

    # -- bloom increment dedup at sf scale (round-5 part 7) ----------
    # build a filter over the documents table, then dedup an
    # increment of equal size (half dups, half new) join-free
    from solrizer_spark.operators.bloom import bloom_build, bloom_dedup

    docs_tbl = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs_tbl = docs_tbl.count()
    bf = timed(
        "bloom_build",
        lambda: bloom_build(
            docs_tbl, "text", expected_items=max(n_docs_tbl, 1), fpp=0.001
        ),
    )
    increment = docs_tbl.select("text").unionByName(
        docs_tbl.select(F.concat(F.lit("new "), F.col("text")).alias("text"))
    )
    timed(
        "bloom_dedup",
        lambda: bloom_dedup(increment, "text", bf)
        .agg(F.count("text"))
        .collect(),
    )

    # "value" sums the ROUND-1 query set so the headline stays
    # comparable round-over-round; queries added later are timed in
    # "queries" and summed in "value_all_queries"
    r1_set = [
        "extract_pipeline", "extract_pipeline_steady", "extract_large_pages",
        "page_sequence", "dedup_exact", "dedup_minhash_lsh",
        "embedding_near_dup", "ann_bruteforce", "text_stats",
        "lang_facet_counts",
    ]
    total = round(sum(timings[k] for k in r1_set), 3)
    docs_per_sec = round(n_docs / timings["extract_pipeline_steady"], 1)
    print(
        json.dumps(
            {
                "metric": "headline wall time (extract pipeline + operator queries)",
                "value": total,
                "unit": "sec",
                "value_all_queries": round(sum(
                    v for k, v in timings.items()
                    if k != "extract_pipeline_inputcached"  # re-measures the chain; summing would double-count
                ), 3),
                "queries": timings,
                "sf": sf_dir,
                "n_docs_extracted": n_docs,
                "docs_per_sec": docs_per_sec,
                "docs_per_sec_engine_only": round(
                    n_docs / timings["extract_pipeline_inputcached"], 1
                ),
                "large_pages_n": n_big,
                "large_pages_mb_per_sec": large_mb_per_sec,
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
