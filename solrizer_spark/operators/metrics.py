"""Lineage + extraction metrics side table.

Reference analog: the per-request ``codetiming.Timer`` log line
(web.py:347-351) and error quarantine (errors.py). At 10^12-document
scale that becomes a queryable side table: one row per logical bucket
with blocks kept/dropped, parse failures, byte volumes, and route mix,
written next to the docs output every run.

Also wires ``df.observe`` job-level counters so a driver can read
totals from the listener without a second pass over the data.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def build_metrics(docs: DataFrame, run_id: str) -> DataFrame:
    """Per-bucket lineage/metrics aggregation (map-side combinable)."""
    return (
        docs.groupBy("partition_key")
        .agg(*_bucket_aggregates())
        .withColumn("run_id", F.lit(run_id))
    )


@functools.cache
def _bucket_aggregates() -> tuple[Column, ...]:
    """``build_metrics``' aggregate list, built once per process."""
    return (
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("parse_failed").cast("long")).alias("parse_failures"),
        F.sum("blocks_kept").alias("blocks_kept"),
        F.sum("blocks_dropped").alias("blocks_dropped"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum(F.length("extracted_text")).alias("chars_out"),
        F.sum((F.col("route") == "html").cast("long")).alias("n_html"),
        F.sum((F.col("route") == "plain").cast("long")).alias("n_plain"),
        F.sum((F.col("route") == "tagged").cast("long")).alias("n_tagged"),
        F.sum((F.col("route") == "pdf").cast("long")).alias("n_pdf"),
        # pages whose bytes were NOT valid UTF-8 and were decoded
        # via the charset rescue ladder (extraction/charset.py) —
        # a first-class data-quality stat on a real web corpus
        F.sum(
            F.col("charset_source")
            .isin("bom", "xml_decl", "meta", "fallback")
            .cast("long")
        ).alias("n_charset_rescued"),
        # robots-meta noindex/none pages: retained in the sink
        # (curation decides), but counted — a junk-rate signal
        F.sum(F.col("is_noindex").cast("long")).alias("n_noindex"),
        F.min("warc_ts").alias("min_warc_ts"),
        F.max("warc_ts").alias("max_warc_ts"),
    )


def attach_observation(docs: DataFrame) -> tuple[DataFrame, Observation]:
    """Job-level counters captured during the main write — no extra
    action over the data."""
    obs = Observation("solrizer_metrics")
    return docs.observe(obs, *_job_totals()), obs


@functools.cache
def _job_totals() -> tuple[Column, ...]:
    """``attach_observation``'s counters, built once per process."""
    return (
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("parse_failed").cast("long")).alias("parse_failures"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("blocks_kept").alias("blocks_kept"),
        F.sum("blocks_dropped").alias("blocks_dropped"),
    )
