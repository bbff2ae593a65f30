"""spark-submit entrypoint: the full extraction job.

    spark-submit --master local[8] job.py \
        --input /path/corpus/pages --output /tmp/out [--resume]

Dataflow (SURVEY.md §3.4):

    read pages (column-pruned scan)
      → input bytes from the file listing (no job) size both the
        placement's task count and n_buckets (default: one bucket per
        64 MB of input, 1..256; unknown size → 256)
      → partition_key = pmod(xxhash64(url, salt), n_buckets)
      → [resume] prune buckets already in the completion manifest for
        this (corpus, n_buckets, salt); none complete → a fresh run
      → bucket-aligned salted repartition by url-hash   (the one shuffle:
        skew defuse; each task holds whole buckets)
      → field chain: extract → content_model → discoverability
        → dates → facets → aggregate_fields → doc       (one Python stage)
      → write doc + the columns it lacks, partitionBy(partition_key)
                                                        (same stage: a
        local sort, one zstd file per bucket slice; dynamic overwrite)
      → read the sink back once → per-bucket lineage/metrics collected
        to the driver → one metrics file, then one manifest file
                                                        (manifest-last)

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

from solrizer_spark import jvm_archive
from solrizer_spark.operators.manifests import (
    manifest_from_metrics,
    completed_buckets,
    corpus_fingerprint,
    filter_completed,
)
from solrizer_spark.operators.metrics import attach_observation, build_metrics
from solrizer_spark.operators.repartition import (
    _scan_input_bytes,
    buckets_for_bytes,
    partitions_for_bytes,
    salted_repartition,
    url_bucket,
)
from solrizer_spark.plans.pipeline import DEFAULT_CHAIN, build_pipeline
from solrizer_spark.session import get_spark, release
from solrizer_spark.sources.pages import docs_sink_columns, read_pages, write_table


def run_job(
    spark,
    input_path: str,
    output_path: str,
    n_buckets: int | None = None,
    salt: int = 0,
    resume: bool = False,
    num_partitions: int | None = None,
    chain: list[str] | None = None,
    model_chains: dict[str, list[str]] | None = None,
    dedup: str | None = None,
    stage_conf: dict | None = None,
    near_signatures_path: str | None = None,
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
    # static file-listing estimate, no job; None for a non-file source
    # or a non-local filesystem
    input_bytes = _scan_input_bytes(pages)
    if n_buckets is None:
        # a pure function of the input (see buckets_for_bytes): the
        # manifest records it, and a resume re-derives the same count
        n_buckets = buckets_for_bytes(input_bytes)
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
        # dominating under-filled layouts). Unknown bytes fall back to
        # the session's shuffle-partition setting.
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

    # plan_s: building the chain's DataFrame (py4j calls, analysis);
    # the stages cache their Columns, so calls after the first in a
    # process pay a few round trips per stage
    t_plan = time.monotonic()
    if model_chains:
        from solrizer_spark.plans.pipeline import run_model_chains

        out = run_model_chains(pages, model_chains, conf=stage_conf)
    else:
        out = build_pipeline(chain or DEFAULT_CHAIN, conf=stage_conf)(pages)
    plan_s = time.monotonic() - t_plan
    if outline and "blocks" in out.columns:
        from solrizer_spark.operators.extract import page_outline

        out = out.withColumn("outline", page_outline(F.col("blocks")))
    # store doc plus only the columns it lacks or a reader needs typed
    # (DOC_COLUMNS); the field columns doc is assembled from are not
    # stored a second time
    docs = out.select(*docs_sink_columns(out.columns))

    if dedup == "canonical":
        # rel=canonical dedup: collapse declared variants (mirrors /
        # AMP / tracking urls) onto their canonical target BEFORE any
        # content hashing — one shuffle on the canonical key; the
        # canonical page itself wins when present, undeclared rows are
        # self-canonical and pass through 1:1 (curate.py
        # canonicaldedup applies the same rule)
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

    near_dedup_persisted: list = []  # released after the docs write
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
        near_dedup_persisted.append(docs)
        text_side = docs.where(F.col("extracted_text").isNotNull()).select(
            "url", "extracted_text"
        )
        lsh_stats: dict = {}
        pairs = minhash_lsh_pairs(
            text_side,
            id_col="url",
            text_col="extracted_text",
            threshold=0.8,
            # at 10^12 rows pass --near-signatures-path: the sketch
            # goes to a durable table instead of a local checkpoint
            signatures_path=near_signatures_path,
            persisted=near_dedup_persisted,
            stats=lsh_stats,
        )
        near_dedup_stats = {"lsh": lsh_stats}
        comps = connected_components(pairs, stats=near_dedup_stats)
        near_dedup_persisted.append(comps)  # star's final label checkpoint
        docs = dedup_keep_canonical(docs, comps, id_col="url")

    if dedup in ("canonical", "exact", "near") or model_chains:
        # these shuffled (or unioned) the placed rows: restore whole
        # buckets per task so the sink still gets one file per bucket
        docs = place(docs)

    docs, obs = attach_observation(docs)
    t0 = time.monotonic()
    if not done:
        # a fresh run — no --resume, or nothing complete for this
        # (corpus, n_buckets, salt) — must not inherit a previous run's
        # partitions or completion rows: dynamic overwrite never clears
        # buckets absent from this run (a smaller n_buckets would leave
        # the old high buckets in place). The manifest goes first, so a
        # crash from here on leaves nothing marked complete.
        shutil.rmtree(manifest_path, ignore_errors=True)
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
    for frame in near_dedup_persisted:
        release(frame)

    # manifest-last: completion rows derive from the durably written
    # sink, restricted to buckets recomputed THIS run (resume appends
    # must not duplicate prior completion rows)
    written = spark.read.parquet(docs_path)
    if done:
        written = written.where(~F.col("partition_key").isin(done))
    # ONE verification scan of the durable sink feeds both side tables.
    # Its aggregate is ≤ n_buckets rows: it is collected once, and the
    # driver writes metrics, then the completion manifest derived from
    # it, as one file each named by run_id (resume appends never
    # collide; no Spark write job). The manifest stays LAST (the commit
    # marker): a crash between the two writes leaves the bucket
    # unmarked, so resume recomputes it and appends a second metrics
    # row for that bucket — metrics is an append-only lineage log keyed
    # by run_id; consumers take the row whose run_id the manifest marks
    # complete
    metrics = build_metrics(written, run_id).toArrow()
    side_file = f"part-{run_id}.parquet"
    write_table(metrics, metrics_path, mode="append", file_name=side_file)
    write_table(
        manifest_from_metrics(metrics, run_id, n_buckets, salt, corpus_fp),
        manifest_path,
        mode="append",
        file_name=side_file,
    )

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
        "plan_s": round(plan_s, 3),
        "skipped_buckets": skipped,
        "n_buckets": n_buckets,
        "input_bytes": input_bytes,
        "counters": {k: int(v) for k, v in counters.items() if v is not None},
        **({"near_dedup": near_dedup_stats} if near_dedup_stats is not None else {}),
        **({"host_graph": host_graph_stats} if host_graph_stats is not None else {}),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--buckets", type=int, default=None,
        help="default: derived from input bytes, 1..256; an explicit "
        "value is used as is",
    )
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

    t0 = time.monotonic()
    spark = get_spark(
        app_name="solrizer-spark-job",
        cpus=args.cpus,
        shuffle_partitions=args.shuffle_partitions,
    )
    session_s = time.monotonic() - t0
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
        input_format=args.input_format,
        host_graph=args.host_graph,
        outline=args.outline,
        max_records_per_file=args.max_records_per_file,
    )
    stats.update(session_s=round(session_s, 3), jvm_archive=jvm_archive.state)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
