"""spark-submit entrypoint: the full extraction job.

    spark-submit --master local[8] job.py \
        --input /path/corpus/pages --output /tmp/out [--resume]

Dataflow (SURVEY.md §3.4):

    read pages (column-pruned scan)
      → partition_key = pmod(xxhash64(url, salt), n_buckets)
      → [resume] prune buckets already in the completion manifest
      → bucket-aligned salted repartition by url-hash   (the one shuffle:
        skew defuse; each task holds whole buckets)
      → field chain: extract → content_model → discoverability
        → dates → facets → aggregate_fields → doc       (one Python stage)
      → write docs partitionBy(partition_key)           (same stage: a
        local sort, one file per bucket; dynamic overwrite)
      → read the sink back once → per-bucket lineage/metrics, then
        manifests                                       (manifest-last)

Global dedup modes (canonical / exact / near) and per-model chains
shuffle or union after the placement; they re-apply the same
placement just before the write.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time
import uuid

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from solrizer_spark.operators.manifests import (
    manifest_from_metrics,
    completed_buckets,
    corpus_fingerprint,
    filter_completed,
)
from solrizer_spark.operators.metrics import attach_observation, build_metrics
from solrizer_spark.operators.repartition import salted_repartition, url_bucket
from solrizer_spark.plans.pipeline import DEFAULT_CHAIN, build_pipeline
from solrizer_spark.session import get_spark
from solrizer_spark.sources.pages import read_pages, write_table

#: Columns persisted to the docs table. ``blocks`` is intentionally
#: dropped — at 10^12 rows the block array quadruples the sink size
#: and nothing downstream reads it (metrics are pre-aggregated).
DOC_COLUMNS = [
    "partition_key",
    "url",
    "id",
    "warc_ts",
    "lang",
    "route",
    "content_model_name__str",
    "extracted_text",
    "is_tagged",
    "title",
    "language__facet",
    "warc_ts__time",
    "is_published",
    "is_hidden",
    "is_top_level",
    "is_discoverable",
    "agg_text",
    "agg_identifier",
    "doc",
    "parse_failed",
    "error",
    "bytes_in",
    "blocks_kept",
    "blocks_dropped",
    "charset_source",
    "canonical_url",
    "is_noindex",
]


def run_job(
    spark,
    input_path: str,
    output_path: str,
    n_buckets: int = 256,
    salt: int = 0,
    resume: bool = False,
    num_partitions: int | None = None,
    chain: list[str] | None = None,
    model_chains: dict[str, list[str]] | None = None,
    dedup: str | None = None,
    stage_conf: dict | None = None,
    near_signatures_path: str | None = None,
    near_cc_algorithm: str = "label_propagation",
    input_format: str = "auto",
    host_graph: bool = False,
    outline: bool = False,
    max_records_per_file: int = 1_000_000,
) -> dict:
    if resume and dedup is not None:
        # global dedup + partial recompute is unsound: a duplicate pair
        # spanning a completed bucket and a recomputed one would survive
        # (only the recomputed side participates in the dedup), so
        # resumed output would differ from a fresh run. Fail fast
        # rather than silently under-dedup.
        raise ValueError(
            f"--dedup {dedup} is incompatible with --resume: dedup is a "
            "global operation but resume recomputes only incomplete "
            "buckets; rerun without --resume (or dedup as a separate "
            "full pass over the written docs)"
        )

    docs_path = os.path.join(output_path, "docs")
    manifest_path = os.path.join(output_path, "manifests")
    metrics_path = os.path.join(output_path, "metrics")
    run_id = uuid.uuid4().hex[:12]

    pages = read_pages(spark, input_path, fmt=input_format)
    ingested_path: str | None = None
    if input_format == "warc" or input_path.endswith((".warc", ".warc.gz")):
        # materialize the archive parse ONCE to a durable side table:
        # downstream needs multiple passes (corpus fingerprint + the
        # main write), and re-parsing raw archives per pass — or
        # caching every page's bytes in executor block storage
        # (localCheckpoint: not fault-tolerant, evicts cluster-wide at
        # scale) — are both the wrong cost model. Same pattern as
        # --near-signatures-path. On --resume an existing ingest is
        # reused, so a restart never re-parses completed archives.
        ingest_path = os.path.join(output_path, "ingest")
        if not (resume and os.path.isdir(ingest_path)):
            shutil.rmtree(ingest_path, ignore_errors=True)
            pages.write.mode("overwrite").parquet(ingest_path)
        pages = spark.read.parquet(ingest_path)
        ingested_path = ingest_path
    corpus_fp = corpus_fingerprint(pages)
    pages = pages.withColumn("partition_key", url_bucket("url", n_buckets, salt))

    done: list[int] = []
    if resume:
        done = completed_buckets(spark, manifest_path, n_buckets, salt, corpus_fp)
        pages = filter_completed(pages, done)
    skipped = len(done)

    if num_partitions is None:
        # bytes-aware default: one 64 MB partition per task with a
        # one-task-per-core floor (see partitions_for_bytes — the
        # identity-UDF profile showed per-task Arrow round-trips
        # dominating under-filled layouts). Static file-listing
        # estimate, no job; unknown (non-file source) falls back to
        # the session's shuffle-partition setting.
        from solrizer_spark.operators.repartition import (
            _scan_input_bytes,
            partitions_for_bytes,
        )

        input_bytes = _scan_input_bytes(pages)
        cores = spark.sparkContext.defaultParallelism
        if input_bytes is not None:
            num_partitions = partitions_for_bytes(input_bytes, cores)
        else:
            num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    if dedup == "url":
        # canonical-url dedup ahead of extraction: keep the earliest
        # crawl of each normalized url. Runs BEFORE the salted
        # repartition — its window shuffle would otherwise discard the
        # salted layout and the corpus would shuffle twice.
        from solrizer_spark.functions.urls import normalize_url

        w = pages.withColumn("_norm_url", normalize_url("url"))
        pages = (
            w.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("_norm_url").orderBy(
                        F.col("warc_ts").asc(), F.col("url").asc()
                    )
                ),
            )
            .where(F.col("_rn") == 1)
            .drop("_rn", "_norm_url")
        )

    def place(df):
        return salted_repartition(df, num_partitions, salt=salt, n_buckets=n_buckets)

    pages = place(pages)

    if outline:
        # heading outline rides the detail-mode blocks column; forcing
        # include_blocks keeps this a ZERO-extra-stage feature — the
        # same single Arrow extraction pass emits the block array, and
        # page_outline is pure Column expressions over it
        stage_conf = {**(stage_conf or {}), "include_blocks": True}

    if model_chains:
        from solrizer_spark.plans.pipeline import run_model_chains

        out = run_model_chains(pages, model_chains, conf=stage_conf)
    else:
        out = build_pipeline(chain or DEFAULT_CHAIN, conf=stage_conf)(pages)
    if outline and "blocks" in out.columns:
        from solrizer_spark.operators.extract import page_outline

        out = out.withColumn("outline", page_outline(F.col("blocks")))
    # a custom chain may legitimately skip stages → keep whatever
    # subset of the canonical sink columns it produced, plus any
    # registered faceter columns
    keep = [c for c in DOC_COLUMNS if c in out.columns]
    keep += [c for c in out.columns if c.endswith("__facet") and c not in keep]
    # detail-chain outputs: child docs + IIIF link fields
    keep += [
        c for c in out.columns
        if (c in ("pages", "outline") or c.startswith("iiif_")) and c not in keep
    ]
    docs = out.select(*keep)

    if dedup == "canonical":
        # rel=canonical dedup: collapse declared variants (mirrors /
        # AMP / tracking urls) onto their canonical target BEFORE any
        # content hashing — one shuffle on the canonical key; the
        # canonical page itself wins when present, undeclared rows are
        # self-canonical and pass through 1:1 (operators/dedup.py
        # canonical_url_dedup is the aggregate form of this rule)
        ckey = F.coalesce(F.col("canonical_url"), F.col("url"))
        docs = (
            docs.withColumn("_ck", ckey)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("_ck").orderBy(
                        F.when(F.col("url") == F.col("_ck"), F.lit(0))
                        .otherwise(F.lit(1))
                        .asc(),
                        F.col("url").asc(),
                    )
                ),
            )
            .where(F.col("_rn") == 1)
            .drop("_ck", "_rn")
        )

    if dedup == "exact":
        # post-extraction exact-content dedup: keep the minimum url per
        # extracted_text hash (one shuffle on the content hash)
        docs = (
            docs.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(
                        F.md5(F.coalesce(F.col("extracted_text"), F.col("url")))
                    ).orderBy(F.col("url").asc())
                ),
            )
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    near_dedup_persisted = None
    near_dedup_stats = None
    if dedup == "near":
        # post-extraction NEAR-dup removal: MinHash+LSH pairs over the
        # extracted text → connected components → keep each cluster's
        # canonical (minimum-url) member. The pair/cluster work runs on
        # (url, extracted_text) only — column-pruned off the wide doc
        # rows — then a left-anti join drops the losers. The docs frame
        # is persisted first: clustering forces the extraction UDF, and
        # without the persist the final write would run the whole
        # extraction a second time.
        from solrizer_spark.operators.dedup import (
            connected_components,
            dedup_keep_canonical,
            minhash_lsh_pairs,
        )

        docs = docs.persist()
        near_dedup_persisted = docs
        text_side = docs.where(F.col("extracted_text").isNotNull()).select(
            "url", "extracted_text"
        )
        pairs = minhash_lsh_pairs(
            text_side,
            id_col="url",
            text_col="extracted_text",
            threshold=0.8,
            # at 10^12 rows pass --near-signatures-path: signatures go
            # to a durable table instead of executor block cache
            persist_base=near_signatures_path is None,
            signatures_path=near_signatures_path,
        )
        near_dedup_stats = {}
        comps = connected_components(
            pairs, algorithm=near_cc_algorithm, stats=near_dedup_stats
        )
        docs = dedup_keep_canonical(docs, comps, id_col="url")

    if dedup in ("canonical", "exact", "near") or model_chains:
        # these shuffled (or unioned) the placed rows: restore whole
        # buckets per task so the sink still gets one file per bucket
        docs = place(docs)

    docs, obs = attach_observation(docs)
    t0 = time.monotonic()
    if not resume:
        # full overwrite: a fresh run must not inherit stale partitions
        # from a previous run with different bucketing/salt (dynamic
        # overwrite never clears partitions absent from this run)
        shutil.rmtree(docs_path, ignore_errors=True)
    # dynamic overwrite: on resume, only the buckets recomputed this
    # run are replaced; completed buckets' data stays in place.
    # The placement gave each task whole buckets, so the write runs in
    # the extraction stage (a local sort on partition_key) and opens
    # one file per bucket; maxRecordsPerFile bounds the hot buckets.
    write_table(
        docs,
        docs_path,
        mode="overwrite",
        partition_by=["partition_key"],
        max_records_per_file=max_records_per_file,
    )
    elapsed = time.monotonic() - t0
    if near_dedup_persisted is not None:
        near_dedup_persisted.unpersist()

    # manifest-last: completion rows derive from the durably written
    # sink, restricted to buckets recomputed THIS run (resume appends
    # must not duplicate prior completion rows). On a fresh run, prior
    # manifests for this output are superseded — drop them.
    if not resume:
        shutil.rmtree(manifest_path, ignore_errors=True)
    written = spark.read.parquet(docs_path)
    if done:
        written = written.where(~F.col("partition_key").isin(done))
    # ONE verification scan of the durable sink feeds both side tables:
    # metrics first, then the completion manifest derived from the same
    # aggregation. The manifest stays LAST (the commit marker): a crash
    # between the two writes leaves the bucket unmarked, so resume
    # recomputes it and appends a second metrics row for that bucket —
    # metrics is an append-only lineage log keyed by run_id; consumers
    # take the row whose run_id the manifest marks complete
    metrics = build_metrics(written, run_id).persist()
    write_table(metrics, metrics_path, mode="append")
    write_table(
        manifest_from_metrics(metrics, run_id, n_buckets, salt, corpus_fp),
        manifest_path,
        mode="append",
    )
    metrics.unpersist()

    host_graph_stats = None
    if host_graph:
        # web-graph side tables over the FULL pages input (global like
        # dedup, but read-only w.r.t. extraction, so it composes with
        # --resume — it just recomputes each run)
        from solrizer_spark.operators.graph import host_edges, pagerank

        # WARC inputs: reuse the materialized ingest table — never
        # re-parse raw archives for a second pass (same cost model as
        # the ingest block above)
        full_pages = (
            spark.read.parquet(ingested_path)
            if ingested_path is not None
            else read_pages(spark, input_path, fmt=input_format)
        )
        edges = host_edges(full_pages, html_col="html", url_col="url").persist()
        edges_path = os.path.join(output_path, "host_graph", "edges")
        ranks_path = os.path.join(output_path, "host_graph", "ranks")
        edges.write.mode("overwrite").parquet(edges_path)
        ranks = pagerank(edges, iterations=5, dedup_edges=False)
        ranks.write.mode("overwrite").parquet(ranks_path)
        host_graph_stats = {
            "n_edges": edges.count(),
            "n_hosts": spark.read.parquet(ranks_path).count(),
        }
        edges.unpersist()

    # the observation sits above the placement exchange, so it fires
    # even when every bucket was skipped (an empty relation)
    counters = dict(obs.get)
    n_docs = int(counters.get("n_docs") or 0)
    return {
        "run_id": run_id,
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / elapsed, 1) if elapsed > 0 else None,
        "elapsed_sec": round(elapsed, 2),
        "skipped_buckets": skipped,
        "counters": {k: int(v) for k, v in counters.items() if v is not None},
        **({"near_dedup": near_dedup_stats} if near_dedup_stats is not None else {}),
        **({"host_graph": host_graph_stats} if host_graph_stats is not None else {}),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--salt", type=int, default=0)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument(
        "--dedup", choices=["url", "canonical", "exact", "near"], default=None,
        help="url: keep earliest crawl per normalized url (pre-extraction); "
        "canonical: collapse declared rel=canonical variants onto their "
        "target (post-extraction, pre-content-hash); "
        "exact: keep one doc per identical extracted_text (post-extraction); "
        "near: MinHash+LSH pairs -> connected components -> keep one doc "
        "per near-duplicate cluster (post-extraction)",
    )
    ap.add_argument(
        "--input-format", choices=["auto", "parquet", "iceberg", "warc"],
        default="auto",
        help="pages input format; warc ingests raw Common-Crawl-style "
        "archives (*.warc / *.warc.gz, one gzip member per record) "
        "directly",
    )
    ap.add_argument(
        "--near-signatures-path", default=None,
        help="with --dedup near: write MinHash signatures to this parquet "
        "path instead of executor-cache persist (the 10^12-row scale mode; "
        "results are identical)",
    )
    ap.add_argument(
        "--near-cc-algorithm", choices=["label_propagation", "star"],
        default="label_propagation",
        help="with --dedup near: connected-components algorithm — "
        "label_propagation converges in O(diameter) rounds (near-clique "
        "dup clusters), star (large-star/small-star) in O(log^2 n) "
        "rounds regardless of diameter (huge or chain-shaped graphs)",
    )
    ap.add_argument(
        "--outline", action="store_true",
        help="add an outline column (array<struct<level,text>>: the "
        "h1-h6 heading hierarchy in document order, parser-grounded "
        "via the detail-mode block array) to the docs output; rides "
        "the single extraction pass, no extra Python stage",
    )
    ap.add_argument(
        "--max-records-per-file", type=int, default=1_000_000,
        help="parquet maxRecordsPerFile bound for the docs write "
        "(0 = unbounded; default 1M keeps hot buckets split into "
        "bounded files)",
    )
    ap.add_argument(
        "--host-graph", action="store_true",
        help="also write host_graph/edges (distinct eTLD+1 link edges) "
        "and host_graph/ranks (integer fixed-point PageRank, 5 rounds) "
        "side tables derived from the pages input",
    )
    ap.add_argument(
        "--chains", default=None,
        help="JSON file with the stage chain (list), per-model chains "
        "(object with '__default__'), or the extended form "
        '{"chains": <either>, "conf": {...}} carrying stage config '
        "(include_blocks, faceters, aggregate_fields, iiif patterns) — "
        "the indexers.yml + indexer-settings.yml analog",
    )
    args = ap.parse_args()

    chain = None
    model_chains = None
    stage_conf = None
    if args.chains:
        with open(args.chains) as fh:
            loaded = json.load(fh)
        if isinstance(loaded, dict) and "chains" in loaded:
            stage_conf = loaded.get("conf")
            loaded = loaded["chains"]
        if isinstance(loaded, list):
            chain = loaded
        else:
            model_chains = loaded  # per-model lists, indexers.yml analog

    spark = get_spark(
        app_name="solrizer-spark-job",
        cpus=args.cpus,
        shuffle_partitions=args.shuffle_partitions,
    )
    stats = run_job(
        spark,
        args.input,
        args.output,
        n_buckets=args.buckets,
        salt=args.salt,
        resume=args.resume,
        chain=chain,
        model_chains=model_chains,
        stage_conf=stage_conf,
        dedup=args.dedup,
        near_signatures_path=args.near_signatures_path,
        near_cc_algorithm=args.near_cc_algorithm,
        input_format=args.input_format,
        host_graph=args.host_graph,
        outline=args.outline,
        max_records_per_file=args.max_records_per_file,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
