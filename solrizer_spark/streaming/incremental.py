"""Incremental ingest via Structured Streaming.

The reference is strictly request/response (web.py:330-405, no
streaming operators — SURVEY.md §2.10); the engine's batch job is the
primary path. This module adds the natural Spark incremental mode: a
file-source stream over the pages directory (production: Iceberg
incremental scan), the same field chain (every stage is narrow /
per-row, so the plan is trivially stream-safe — no watermarks or state
needed), and an append sink with checkpoint-tracked exactly-once file
progress. ``Trigger.AvailableNow`` turns it into a catch-up batch:
each invocation processes exactly the files that arrived since the
last checkpoint — a second resumability mechanism, complementary to
the bucket manifests of the batch job.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from solrizer_spark.operators.repartition import url_bucket
from solrizer_spark.plans.pipeline import DEFAULT_CHAIN, build_pipeline
from solrizer_spark.sources.pages import PARQUET_OPTIONS, docs_sink_columns

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def _start_docs_sink(
    out, n_buckets, salt, output_path, checkpoint_path, await_termination
):
    """Append the field chain's output stream to the docs sink: the
    batch job's bucket key, sink columns and parquet writer options."""
    docs = out.withColumn("partition_key", url_bucket("url", n_buckets, salt))
    query = (
        docs.select(*docs_sink_columns(docs.columns))
        .writeStream.format("parquet")
        .options(**PARQUET_OPTIONS)
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    n_buckets: int = 256,
    salt: int = 0,
    chain: list[str] | None = None,
    await_termination: bool = True,
):
    """Run one AvailableNow incremental pass: new files under
    ``input_path`` → field chain → append to ``output_path``."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_path)
    )
    return _start_docs_sink(
        build_pipeline(chain or DEFAULT_CHAIN)(pages),
        n_buckets, salt, output_path, checkpoint_path, await_termination,
    )


def stream_extract_dedup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    n_buckets: int = 256,
    salt: int = 0,
    dedup_delay: str = "24 hours",
    chain: list[str] | None = None,
    await_termination: bool = True,
):
    """Incremental pass with STATEFUL cross-batch URL dedup: a page
    whose url was already processed within the watermark window is
    dropped BEFORE extraction (recrawls are the common stream dup — at
    scale the win is the skipped pandas-UDF work, not the skipped
    write). ``dropDuplicatesWithinWatermark`` keys the state store by
    url and the event-time watermark bounds state size — the
    scale-safe form of streaming dedup (plain ``dropDuplicates`` keeps
    every key forever). State lives in the checkpoint, so dedup holds
    ACROSS AvailableNow invocations, not just within one micro-batch.
    """
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_path)
    )
    deduped = pages.withWatermark("warc_ts", dedup_delay).dropDuplicatesWithinWatermark(
        ["url"]
    )
    return _start_docs_sink(
        build_pipeline(chain or DEFAULT_CHAIN)(deduped),
        n_buckets, salt, output_path, checkpoint_path, await_termination,
    )


def stream_domain_counts(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    await_termination: bool = True,
):
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (the brief's escape hatch for semantics the built-ins can't
    express): a per-domain cumulative document counter that survives
    micro-batches and AvailableNow restarts through the checkpointed
    state store. Emits ``(domain, batch_docs, total_docs)`` per updated
    domain per batch; the Update-mode rows land via ``foreachBatch`` →
    parquet append (the memory sink cannot recover from a checkpoint;
    production would use Kafka/Delta). Latest total per domain =
    ``max(total_docs)``."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from solrizer_spark.functions.urls import registered_domain

    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_path)
    )
    domains = pages.select(registered_domain("url").alias("domain"))

    def update_counts(key, pdf_iter, state: GroupState):
        batch = sum(len(pdf) for pdf in pdf_iter)
        total = (state.get[0] if state.exists else 0) + batch
        state.update((total,))
        yield pd.DataFrame(
            {"domain": [key[0]], "batch_docs": [batch], "total_docs": [total]}
        )

    counts = domains.groupBy("domain").applyInPandasWithState(
        update_counts,
        outputStructType="domain string, batch_docs long, total_docs long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    def sink(batch_df, _batch_id):
        batch_df.write.mode("append").parquet(output_path)

    query = (
        counts.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


def stream_warc_extract(
    spark: SparkSession,
    archive_glob: str,
    output_path: str,
    checkpoint_path: str,
    n_buckets: int = 256,
    salt: int = 0,
    chain: list[str] | None = None,
    await_termination: bool = True,
):
    """Incremental ingestion straight from WARC archives: each
    AvailableNow pass parses exactly the archive files that arrived
    since the last checkpoint (file progress tracked by the stream
    checkpoint — the crawl-drop catch-up pattern: new segments land in
    a bucket, the next run picks up only those). The archive parser is
    the same single-``mapInPandas`` stage as the batch ``read_warc``,
    with the same bounded-batch memory contract and 2xx/html-like
    ingest filter (both literally shared code, see
    ``sources/warc.py``); every field-chain stage is narrow, so the
    whole plan is stream-safe with no state or watermarks."""
    from solrizer_spark.sources.warc import (
        WARC_PAGES_SCHEMA,
        parse_archives_batched,
        warc_pages_projection,
    )

    bin_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(bin_schema)
        .option("maxFilesPerTrigger", 16)
        .load(archive_glob)
        .select("path", "content")
    )
    records = files.mapInPandas(parse_archives_batched, WARC_PAGES_SCHEMA)
    pages = warc_pages_projection(records)
    return _start_docs_sink(
        build_pipeline(chain or DEFAULT_CHAIN)(pages),
        n_buckets, salt, output_path, checkpoint_path, await_termination,
    )


def stream_dedup_against_base(
    spark: SparkSession,
    input_path: str,
    base_path: str,
    output_path: str,
    checkpoint_path: str,
    id_col: str = "url",
    text_col: str = "extracted_text",
    threshold: float | None = 0.8,
    await_termination: bool = True,
):
    """Streaming crawl-increment dedup: each micro-batch of extracted
    docs is filtered against the STATIC base corpus with
    :func:`~solrizer_spark.operators.dedup.dedup_against_base` inside
    ``foreachBatch`` (the LSH near stage needs multi-pass batch
    semantics — persist + three joins — which a streaming plan can't
    express, so the batch operator runs per micro-batch; the batch df
    is small by definition, the base is the big side). Checkpointed
    file progress makes AvailableNow invocations catch-up passes, same
    as the other incremental modes. Cross-BATCH new-vs-new dups are
    not dropped here — compose ``stream_extract_dedup``'s watermarked
    url dedup upstream, or batch dedup downstream.

    Idempotence + memory: each batch writes OVERWRITE into its own
    ``batch_id=<n>`` subdirectory, so a micro-batch retried after a
    crash-between-write-and-checkpoint replaces its own output instead
    of appending duplicates (read the sink with partition discovery:
    ``spark.read.parquet(output_path)``); the LSH signature cache is
    disabled per batch (``persist_base=False``) — a foreachBatch sink
    cannot release a persist it leaves behind, and each invocation
    would pin another base-sized cache."""
    from solrizer_spark.operators.dedup import dedup_against_base

    base = spark.read.parquet(base_path).select(id_col, text_col)
    stream = spark.readStream.schema(
        spark.read.parquet(input_path).schema
    ).parquet(input_path)

    def sink(batch_df, batch_id: int) -> None:
        kept = dedup_against_base(
            batch_df, base, id_col=id_col, text_col=text_col,
            threshold=threshold, persist_base=False,
        )
        kept.write.mode("overwrite").parquet(
            f"{output_path}/batch_id={batch_id}"
        )

    query = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


def stream_bloom_dedup(
    spark: SparkSession,
    input_path: str,
    bloom_path: str,
    output_path: str,
    checkpoint_path: str,
    text_col: str = "extracted_text",
    accumulate: bool = True,
    save_updated_path: str | None = None,
    await_termination: bool = True,
):
    """Streaming crawl-increment dedup against a broadcast Bloom
    filter (:mod:`solrizer_spark.operators.bloom`): each micro-batch
    is probed executor-locally — no join, the base corpus never rides
    the stream — and rows that might duplicate the filtered corpus
    are dropped (no false negatives; ~fpp of genuinely-new rows
    lost, as sized at build time).

    ``accumulate=True`` is the property the anti-join streaming form
    (:func:`stream_dedup_against_base`) explicitly cannot offer:
    after each batch is written, a filter over the ADMITTED rows is
    OR-merged into the driver-held filter, so later batches also
    dedup against earlier batches — cross-batch duplicates are
    dropped, not just base duplicates. The increment filter is built
    from the batch's own WRITTEN output (re-read), so a micro-batch
    retried after a crash re-merges exactly what it wrote — OR is
    idempotent, so replays are harmless. Pass ``save_updated_path``
    to persist the accumulated filter for the next invocation (the
    cross-run amortization: load → catch up → save).

    Broadcast hygiene: one filter-sized broadcast per micro-batch,
    explicitly ``destroy()``-ed after the batch's write completes —
    a long catch-up run holds at most one live copy per executor.

    Idempotent sink layout: OVERWRITE into ``batch_id=<n>``
    subdirectories (same contract as the other streaming sinks)."""
    if save_updated_path and not await_termination:
        # ADVICE r5: saving right after start() would persist a
        # stale/partially-accumulated filter while batches are still
        # running; a later run loading it would re-admit duplicates
        raise ValueError(
            "save_updated_path requires await_termination=True — the "
            "accumulated filter is only complete once the stream has "
            "drained"
        )
    from solrizer_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
        load_bloom,
        save_bloom,
    )
    from pyspark.sql import functions as F

    state = {"bf": load_bloom(spark, bloom_path)}
    stream = spark.readStream.schema(
        spark.read.parquet(input_path).schema
    ).parquet(input_path)

    def sink(batch_df, batch_id: int) -> None:
        bf = state["bf"]
        bc = spark.sparkContext.broadcast((bf.chunks, bf.k, bf.bits_total))
        try:
            kept = bloom_might_contain(
                batch_df, text_col, bf, out_col="__hit", bc=bc
            ).where(~F.col("__hit")).drop("__hit")
            kept.write.mode("overwrite").parquet(
                f"{output_path}/batch_id={batch_id}"
            )
        finally:
            bc.destroy()
        if accumulate:
            admitted = spark.read.parquet(f"{output_path}/batch_id={batch_id}")
            # strategy by filter size (ADVICE r5): the default local
            # build raises past LOCAL_BUILD_MAX_BITS — exactly the
            # large-base regime this module targets — which would kill
            # the stream inside foreachBatch; mirror curate.py's
            # heuristic instead
            from solrizer_spark.operators.bloom import LOCAL_BUILD_MAX_BITS

            inc = bloom_build(
                admitted, text_col,
                bits_total=bf.bits_total, k=bf.k, seed=bf.seed,
                strategy=(
                    "local" if bf.bits_total <= LOCAL_BUILD_MAX_BITS
                    else "shuffle"
                ),
            )
            state["bf"] = bf.merge(inc)

    query = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    if save_updated_path:
        save_bloom(spark, state["bf"], save_updated_path)
    return query
