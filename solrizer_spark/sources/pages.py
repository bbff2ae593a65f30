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

from pyspark.sql import DataFrame, SparkSession


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

        # hygiene filter + pages projection shared with the streaming
        # path; use read_warc() directly for the unfiltered records
        return warc_pages_projection(read_warc(spark, source))
    return spark.read.parquet(source)


def write_table(
    df: DataFrame,
    target: str,
    fmt: str = "auto",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int = 0,
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
    """
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
    w = df.write.mode(mode)
    if mode == "overwrite":
        w = w.option("partitionOverwriteMode", "dynamic")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(target)
