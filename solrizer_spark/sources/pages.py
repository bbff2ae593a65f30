"""Pages/docs table IO with a table-format seam.

Production target is an Iceberg catalog (`spark.read.format('iceberg')`,
`df.writeTo(...)`) — partition spec ``bucket(N, url)`` for scan-side
bucket pruning plus ``days(warc_ts)`` for crawl-window pruning, and
snapshot-atomic commits for the manifest-last resume protocol.

This sandbox ships no Iceberg runtime jar, so the default
implementation is plain parquet with identical schemas and the same
call signatures; the format is a config knob, not a code change.
Column pruning and predicate pushdown behave the same way for both
(verify with ``.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:
    import pyarrow


def read_pages(spark: SparkSession, source: str, fmt: str = "auto") -> DataFrame:
    """Read the pages table. ``source`` is a path (parquet), a catalog
    table name (iceberg), or raw WARC archives. ``fmt``: auto |
    parquet | iceberg | warc (auto treats ``*.warc``/``*.warc.gz``
    paths as warc)."""
    if fmt == "auto":
        if source.endswith((".warc", ".warc.gz")):
            fmt = "warc"
        else:
            fmt = "iceberg" if ("." in source and "/" not in source) else "parquet"
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(source)
    if fmt == "warc":
        from solrizer_spark.sources.warc import read_warc, warc_pages_projection

        # hygiene filter + pages projection; use read_warc() directly
        # for the unfiltered records
        return warc_pages_projection(read_warc(spark, source))
    return spark.read.parquet(source)


#: Columns of the docs sink. A column is stored only if ``doc`` (the
#: product) lacks it or a reader needs it typed: the goldens and the
#: benchmark gate (url, extracted_text, parse_failed), curate (lang),
#: ``build_metrics`` (warc_ts, route, byte/block counts,
#: charset_source, is_noindex) and lineage ``doc`` omits (error,
#: canonical_url). The field columns ``doc`` is assembled from — id,
#: title, content_model_name__str, is_tagged, the flags,
#: warc_ts__time, ``*__facet``, agg_* — are computed but not stored
#: (SCALE.md "Sink layout" maps each to its ``doc`` field), and neither
#: is ``blocks``: nothing downstream reads the block array.
DOC_COLUMNS = [
    "partition_key",
    "url",
    "warc_ts",
    "lang",
    "route",
    "extracted_text",
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

#: Parquet writer options of the Spark-written sink tables
#: (``write_table``): zstd pages, and binary min/max statistics cut to
#: 64 bytes — full-length ``doc`` bounds were ~1.5 KB of every docs
#: file footer.
PARQUET_OPTIONS = {
    "compression": "zstd",
    "parquet.statistics.truncate.length": "64",
}


def docs_sink_columns(columns: list[str]) -> list[str]:
    """The sink columns of a chain's output: the ``DOC_COLUMNS`` it
    produced (a custom chain may skip stages) plus the detail-chain
    outputs — child ``pages``, the heading ``outline`` and the IIIF
    link fields."""
    keep = [c for c in DOC_COLUMNS if c in columns]
    keep += [
        c for c in columns
        if (c in ("pages", "outline") or c.startswith("iiif_")) and c not in keep
    ]
    return keep


def write_table(
    df: DataFrame | pyarrow.Table,
    target: str,
    fmt: str = "auto",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int = 0,
    file_name: str | None = None,
) -> None:
    """Write a table (docs / manifests / metrics).

    parquet path: dynamic partition overwrite so a resumed run only
    replaces the buckets it recomputed (idempotent rerun semantics);
    iceberg: ``createOrReplace`` / ``append`` on the catalog table.

    The write adds no shuffle: every task emits one file into every
    partition directory it holds rows for, so a hive-style partitioned
    sink gets tasks × partition-values files unless the caller places
    rows first — the docs sink does, with a bucket-aligned
    ``salted_repartition`` that hands each task whole buckets.
    ``max_records_per_file`` bounds individual files (0 = Spark
    default, unbounded).

    ``df`` may also be a ``pyarrow.Table`` — a side table already
    collected on the driver. It is written by the driver as the one
    parquet file ``<target>/<file_name>`` with no Spark job
    (:func:`~solrizer_spark.session.write_parquet_file`); append mode
    adds the file next to earlier runs', overwrite clears the
    directory first.
    """
    if not hasattr(df, "write"):
        from solrizer_spark.session import write_parquet_file

        write_parquet_file(df, target, file_name, overwrite=mode == "overwrite")
        return
    if fmt == "auto":
        fmt = "iceberg" if ("." in target and "/" not in target) else "parquet"
    if fmt == "iceberg":
        writer = df.writeTo(target)
        if partition_by:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        # (no maxRecordsPerFile analog here: Iceberg sizes files via
        # its own write.target-file-size-bytes table property)
        if mode == "append":
            writer.append()
        else:
            writer.createOrReplace()
        return
    w = df.write.mode(mode).options(**PARQUET_OPTIONS)
    if mode == "overwrite":
        w = w.option("partitionOverwriteMode", "dynamic")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(target)
