"""Physical-plan audit: assert the plans we ship are the plans we
want (SURVEY.md §4.2). Run: python tools/explain_audit.py

Checks:
1. Parquet scan prunes columns (resume check must not read `html`)
   and pushes predicates (PushedFilters non-empty).
2. The full field chain contains exactly ONE ArrowEvalPython node
   (one JVM↔Python crossing) and WholeStageCodegen spans around it.
3. Brute-force top-k compiles to TakeOrderedAndProject — no global
   sort shuffle.
4. The vocab dim join broadcasts (BroadcastHashJoin, no
   SortMergeJoin).
5. minhash LSH pair generation (its distributed plan) contains no
   CartesianProduct, and its MinHash is one ArrowEvalPython stage.
6. chunk_text / the label-concat faceters are shuffle-free row-local
   plans; WARC ingestion is exactly one MapInPandas crossing.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def main() -> int:
    import __spark_entry__ as em
    from solrizer_spark.functions.language import lang_names_df
    from solrizer_spark.operators import dedup
    from solrizer_spark.operators.similarity import brute_force_topk
    from solrizer_spark.plans.pipeline import run_chain
    from solrizer_spark.session import get_spark, release

    sf = "/root/testdata/sf0.01"
    spark = get_spark(app_name="explain-audit", cpus=8, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    failures = []

    def check(name, cond, detail=""):
        print(("PASS " if cond else "FAIL ") + name + (f"  [{detail}]" if detail else ""))
        if not cond:
            failures.append(name)

    # 1. column pruning + predicate pushdown on a metadata-only probe
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    probe = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    p = plan_of(probe)
    check(
        "scan_column_pruning (no text column read)",
        "ReadSchema" in p and "text" not in p.split("ReadSchema")[1].split("\n")[0],
        p.split("ReadSchema")[1].split("\n")[0][:90] if "ReadSchema" in p else "no ReadSchema",
    )
    filt = docs.where(F.col("doc_id") > 100).select("doc_id")
    p2 = plan_of(filt)
    check(
        "predicate_pushdown (PushedFilters)",
        "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]" in p2
        or "GreaterThan(doc_id,100)" in p2,
    )

    # 2. one Python crossing in the full chain, codegen around it
    pages = em._wrap_pages(spark, sf, boilerplate=True)
    chain = run_chain(pages)
    p3 = plan_of(chain)
    check("single_python_stage (1 ArrowEvalPython)", p3.count("ArrowEvalPython") == 1,
          f"count={p3.count('ArrowEvalPython')}")
    # executedPlan().toString() marks WholeStageCodegen stages with
    # a "*(n)" prefix rather than the literal node name
    check("wholestage_codegen_present", "WholeStageCodegen" in p3 or "*(" in p3)

    # 3. top-k is TakeOrdered, not global sort
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    topk = brute_force_topk(emb, em._QUERY_VEC, k=10)
    p4 = plan_of(topk)
    check("topk_takeordered", "TakeOrderedAndProject" in p4)
    check("topk_no_global_sort_exchange", "rangepartitioning" not in p4.lower())

    # 4. vocab dim join broadcasts
    dim = lang_names_df(spark)
    joined = docs.join(F.broadcast(dim), docs.lang == dim.code, "left")
    p5 = plan_of(joined)
    check("vocab_join_broadcast", "BroadcastHashJoin" in p5 and "SortMergeJoin" not in p5)

    # 5. LSH pair generation has no cartesian product. The audit
    #    inspects the distributed plan: the driver bound is set to 0,
    #    or this small input would return a LocalRelation.
    union = em._with_near_dups(spark, sf)
    bound, dedup.DRIVER_LSH_MAX_BYTES = dedup.DRIVER_LSH_MAX_BYTES, 0
    held: list = []
    p6 = plan_of(dedup.minhash_lsh_pairs(union, threshold=0.8, persisted=held))
    dedup.DRIVER_LSH_MAX_BYTES = bound
    check("lsh_no_cartesian", "CartesianProduct" not in p6)
    check("lsh_joins_are_hash_or_smj", ("BroadcastHashJoin" in p6) or ("SortMergeJoin" in p6) or ("ShuffledHashJoin" in p6))

    # 6. bucket cap rides a pre-aggregation window (row_number filter
    #    bounds the collect_list buffer — VERDICT r1 "what's wrong" #1)
    check("lsh_bucket_cap_preaggregation (row_number window)", "row_number" in p6)

    # 6b. the MinHash kernel is one Arrow stage over the (id, text)
    #     checkpoint (no row-at-a-time UDF), and it runs once: the
    #     sketch is checkpointed, so its readers hold no Python stage
    held.append(union.select(F.col("doc_id").alias("_id"), F.col("text").alias("_text")).localCheckpoint())
    p6b = plan_of(held[-1].select("_id", dedup.minhash_sketch("_text").alias("_mh")))
    check(
        "lsh_distributed_single_arrow_stage",
        p6b.count("ArrowEvalPython") == 1 and "BatchEvalPython" not in p6b and "EvalPython" not in p6,
        f"arrow={p6b.count('ArrowEvalPython')} batch={p6b.count('BatchEvalPython')} readers={p6.count('EvalPython')}",
    )
    for df in held:
        release(df)

    # 7. the detail chain (blocks + child docs + jq aggregate fields +
    #    IIIF links + doc JSON) still crosses into Python exactly once
    detail = run_chain(
        pages,
        ["extract", "content_model", "discoverability", "dates", "facets",
         "child_docs", "aggregate_fields", "iiif_links", "doc"],
        conf={"include_blocks": True},
    )
    p7 = plan_of(detail)
    check("detail_chain_single_python_stage", p7.count("ArrowEvalPython") == 1,
          f"count={p7.count('ArrowEvalPython')}")

    # 8. chunk_text is map-side: transform+posexplode, zero exchanges
    from solrizer_spark.operators.sampling import chunk_text

    p8 = plan_of(chunk_text(docs.select("doc_id", "text"), "text", 32, 8))
    check("chunk_text_no_shuffle", "Exchange" not in p8,
          f"exchanges={p8.count('Exchange')}")

    # 9. label-concat faceters are row-local Column exprs — no shuffle,
    # no Python stage
    p9 = plan_of(em.q_facet_labels(spark, sf))
    check(
        "facet_labels_no_shuffle_no_python",
        "Exchange" not in p9 and "EvalPython" not in p9,
        f"exchanges={p9.count('Exchange')} python={p9.count('EvalPython')}",
    )

    # 9b. scan-time quality/link operators stay Python-free and
    # keyed-shuffle-free: hashed linear model scoring + outlink
    # extraction. The ONLY exchange allowed is the min-parallelism
    # guard's round-robin repartition (round 6) — it fires only when
    # the local scan has fewer splits than cores and is a no-op at
    # scale, so the scan-time contract (no keyed shuffle, no Python)
    # still holds.
    def _only_roundrobin_exchanges(p: str) -> bool:
        return p.count("Exchange") == p.count("Exchange RoundRobinPartitioning")

    p9b = plan_of(em.q_model_score(spark, sf))
    p9c = plan_of(em.q_outlinks(spark, sf))
    check(
        "model_score_outlinks_scan_time",
        all(
            _only_roundrobin_exchanges(p) and "EvalPython" not in p
            for p in (p9b, p9c)
        ),
        f"model_score ex={p9b.count('Exchange')} outlinks ex={p9c.count('Exchange')}",
    )

    # 10. WARC ingestion: exactly one Python crossing (the mapInPandas
    # archive parser), no shuffle before the pages projection
    import tempfile
    from datetime import datetime, timezone

    from solrizer_spark.sources.pages import read_pages
    from solrizer_spark.sources.warc import write_warc

    with tempfile.TemporaryDirectory() as td:
        wpath = f"{td}/a.warc"
        write_warc(
            [{"url": "https://x.org/1", "ts": datetime(2026, 1, 1, tzinfo=timezone.utc),
              "body": b"<p>x</p>"}],
            wpath,
        )
        p10 = plan_of(read_pages(spark, wpath, fmt="warc"))
        check(
            "warc_read_single_python_stage_no_shuffle",
            p10.count("MapInPandas") == 1 and "Exchange" not in p10,
            f"mapInPandas={p10.count('MapInPandas')} exchanges={p10.count('Exchange')}",
        )

    # 11. one PageRank round: hash/SMJ joins only (no cartesian, no
    # nested-loop), and the keep-alive union keeps one aggregate
    from solrizer_spark.operators.graph import pagerank

    edges = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 17).cast("string")).alias("src"),
        F.concat(F.lit("h"), ((F.col("doc_id") * 7 + 3) % 17).cast("string")).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    p11 = plan_of(pagerank(edges, iterations=1, checkpoint=False))
    check(
        "pagerank_round_no_cartesian",
        "CartesianProduct" not in p11 and "BroadcastNestedLoopJoin" not in p11,
        f"joins={p11.count('Join')}",
    )

    # 12. bigram-LM scoring: zero Python stages (the whole train+score
    # path is Column expressions), no cartesian join
    p12 = plan_of(em.q_lm_score(spark, sf))
    check(
        "lm_score_no_python_no_cartesian",
        "EvalPython" not in p12 and "CartesianProduct" not in p12,
        f"python={p12.count('EvalPython')}",
    )

    # 13. crawl scheduling: host-keyed hash joins only — no cartesian,
    # no nested-loop, no per-host global sort outside the exact mode
    p13 = plan_of(em.q_crawl_delay_schedule(spark, sf))
    check(
        "crawl_schedule_hash_joins_only",
        "CartesianProduct" not in p13 and "BroadcastNestedLoopJoin" not in p13,
        f"joins={p13.count('Join')}",
    )

    # 14. robots filter: the rules dim broadcasts (corpus side never
    # shuffles), rule translation sits on the dim side of the join,
    # and matching is pure Column logic — no Python, no cartesian
    p14 = plan_of(em.q_robots_filter(spark, sf))
    check(
        "robots_filter_broadcast_no_shuffle",
        "BroadcastHashJoin" in p14
        and "SortMergeJoin" not in p14
        and "CartesianProduct" not in p14
        and "EvalPython" not in p14,
        f"bhj={p14.count('BroadcastHashJoin')} smj={p14.count('SortMergeJoin')}",
    )

    # 15. index build: no cartesian/python; postings (salted two-phase
    # cap) stays within bounded window passes; tfidf's df join is a
    # hash join (broadcast at this scale; shuffle-hash/SMJ + AQE skew
    # split at corpus scale), never nested-loop
    p15 = plan_of(em.q_inverted_postings(spark, sf))
    check(
        "inverted_postings_no_python_no_cartesian",
        "EvalPython" not in p15 and "CartesianProduct" not in p15,
        f"exchanges={p15.count('Exchange')}",
    )
    p16 = plan_of(em.q_tfidf_keywords(spark, sf))
    check(
        "tfidf_hash_join_no_python",
        "EvalPython" not in p16
        and "CartesianProduct" not in p16
        and "BroadcastNestedLoopJoin" not in p16,
        f"exchanges={p16.count('Exchange')} bhj={p16.count('BroadcastHashJoin')}",
    )

    # 16. retrieval over the index: top-k is TakeOrdered (no global
    # sort exchange), pure JVM
    p17 = plan_of(em.q_keyword_search(spark, sf))
    check(
        "keyword_search_takeordered",
        "TakeOrderedAndProject" in p17 and "EvalPython" not in p17,
        f"python={p17.count('EvalPython')}",
    )

    # 17. substring dedup: pure JVM, no cartesian, and the span
    # count+keeper aggregate is map-side combinable (partial HashAgg
    # before its exchange) so a 10^8-copy boilerplate span never forms
    # a skewed reduce group
    p18 = plan_of(em.q_substring_dedup(spark, sf))
    check(
        "substring_dedup_no_python_no_cartesian",
        "EvalPython" not in p18
        and "CartesianProduct" not in p18
        and "BroadcastNestedLoopJoin" not in p18,
        f"exchanges={p18.count('Exchange')}",
    )
    check(
        "substring_dedup_partial_agg (map-side combine on span counts)",
        "partial_count" in p18 or "partial count" in p18.lower(),
    )

    # semantic_dedup runs on Arrow numpy kernels: Python crossings
    # must be Arrow-batched only (never row-at-a-time BatchEvalPython),
    # still no cartesian
    p19 = plan_of(em.q_semantic_dedup(spark, sf))
    check(
        "semantic_dedup_arrow_only_no_cartesian",
        "BatchEvalPython" not in p19
        and "CartesianProduct" not in p19
        and "BroadcastNestedLoopJoin" not in p19,
        f"arrow_evals={p19.count('ArrowEvalPython')} exchanges={p19.count('Exchange')}",
    )
    from solrizer_spark.operators.similarity import (
        embedding_near_dup_pairs,
        semantic_dedup,
    )

    _cents4 = [
        [((j * 13 + d * 5) % 9 - 4) / 4.0 for d in range(64)] for j in range(4)
    ]
    # the operators' default plans outside the registry queries: the
    # same Arrow-only, no-cartesian shape
    p19b = plan_of(semantic_dedup(emb, _cents4, tau=0.99))
    p19c = plan_of(
        embedding_near_dup_pairs(emb, threshold=0.99, persist_base=False)
    )
    check(
        "similarity_default_plans_arrow_only_no_cartesian",
        all(
            "BatchEvalPython" not in p
            and "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p
            for p in (p19b, p19c)
        ),
        f"arrow_evals={p19b.count('ArrowEvalPython')},{p19c.count('ArrowEvalPython')}",
    )

    p20 = plan_of(em.q_importance_resample(spark, sf))
    check(
        "dsir_ratio_join_broadcast_topk_takeordered",
        "BroadcastHashJoin" in p20
        and "TakeOrdered" in p20
        and "EvalPython" not in p20
        and "CartesianProduct" not in p20,
        f"bhj={p20.count('BroadcastHashJoin')}",
    )

    # html_metadata: pure JVM regexp extraction — no Python crossing,
    # no exchange (map-side select over the scan)
    p21 = plan_of(em.q_html_metadata(spark, sf))
    check(
        "html_metadata_pure_jvm_no_shuffle",
        "EvalPython" not in p21 and "Exchange" not in p21,
        f"exchanges={p21.count('Exchange')}",
    )

    # PQ: the ADC shortlist and the exact re-rank are both TakeOrdered —
    # never a global sort; no join at all in the scan (the encode's own
    # plan shape is pq_encode_single_arrow_no_shuffle below)
    from solrizer_spark.operators.similarity import pq_encode, pq_topk

    _books = [
        [[((j * 31 + c * 7 + p) % 11 - 5) / 5.0 for p in range(8)] for c in range(16)]
        for j in range(8)
    ]
    # production ADC shape: codes are a STORED column (encode once,
    # probe many) — the only Python in the probe plan is the exact
    # re-rank over the <= shortlist rows
    with tempfile.TemporaryDirectory() as td:
        pq_encode(emb, _books).write.parquet(f"{td}/codes")
        p23 = plan_of(
            pq_topk(
                spark.read.parquet(f"{td}/codes"), em._QUERY_VEC, _books,
                k=10, shortlist=64, code_col="pq_code",
            )
        )
    check(
        "pq_adc_takeordered_rerank_only_python",
        p23.count("TakeOrderedAndProject") == 2
        and p23.count("EvalPython") == 1
        and p23.count("ArrowEvalPython") == 1
        and "CartesianProduct" not in p23,
        f"takeordered={p23.count('TakeOrderedAndProject')} "
        f"python={p23.count('EvalPython')}",
    )

    # token-budget mix, approx mode: the rates dim broadcasts and the
    # keep-filter is map-side — no sort, no window, no cartesian
    from solrizer_spark.functions.text_stats import token_count
    from solrizer_spark.operators.sampling import token_budget_mix

    tb_in = docs.select(
        "doc_id", F.col("doc_id").cast("string").alias("key"), "source",
        token_count("text").alias("toks"),
    )
    p24 = plan_of(
        token_budget_mix(tb_in, 2000, "source", "key", "toks",
                         weights={"src0": 0.5, "src1": 0.5})
    )
    check(
        "token_budget_approx_broadcast_no_sort",
        "BroadcastHashJoin" in p24
        and "CartesianProduct" not in p24
        and "Window" not in p24
        and "EvalPython" not in p24,
        f"bhj={p24.count('BroadcastHashJoin')}",
    )

    # outline-extended extract_main_content: the heading outline rides
    # the SAME single Arrow extraction stage (pure Column exprs over
    # the detail blocks array — no second Python crossing, no
    # exchange beyond the scan)
    p25 = plan_of(em.q_extract_main_content(spark, sf))
    check(
        "outline_rides_single_arrow_stage",
        p25.count("ArrowEvalPython") == 1 and "Exchange" not in p25,
        f"arrow_evals={p25.count('ArrowEvalPython')} exch={p25.count('Exchange')}",
    )

    # Arrow PQ encode: exactly one ArrowEvalPython, zero exchanges
    from solrizer_spark.operators.similarity import pq_encode, pq_train

    books24 = pq_train(emb.limit(512), m=4, k=4, n_iter=1)
    p26 = plan_of(pq_encode(emb, books24))
    check(
        "pq_encode_single_arrow_no_shuffle",
        p26.count("ArrowEvalPython") == 1 and "Exchange" not in p26,
        f"arrow_evals={p26.count('ArrowEvalPython')} exch={p26.count('Exchange')}",
    )

    # broadcast Bloom probe: membership is executor-local — one
    # ArrowEvalPython, no join of any kind in the dedup plan
    from solrizer_spark.operators.bloom import bloom_build, bloom_dedup

    bf = bloom_build(docs.limit(200), "text", expected_items=200, fpp=0.01)
    p27 = plan_of(bloom_dedup(docs, "text", bf))
    check(
        "bloom_dedup_join_free_single_arrow",
        p27.count("MapInPandas") == 1
        and "Join" not in p27
        and "Exchange" not in p27,
        f"mapinpandas={p27.count('MapInPandas')} joins={p27.count('Join')}",
    )

    spark.stop()
    print(f"\n{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
