"""Per-partition completion manifests — resumable reruns.

North-rule requirement (no reference analog; the closest is solrizer's
idempotent per-request model, web.py:330-405 — re-request = re-index).

Model
-----
Work is keyed by a *logical* bucket ``partition_key =
pmod(xxhash64(url, salt), n_buckets)`` — a pure function of the url,
NOT ``spark_partition_id()`` — so completion state survives cluster
resizes, AQE coalescing, and re-planning. The docs sink is
``partitionBy(partition_key)``; after a successful write the job
derives one manifest row per bucket *from the written output*
(count re-read from the sink, making the manifest an assertion about
durable data, not about task attempts).

Resume = anti-join: buckets present in the manifest with
``status='complete'`` (for the same corpus fingerprint + n_buckets +
salt) are filtered out of the input scan before the expensive
extraction stage. The filter is a broadcast ``IN`` on at most
``n_buckets`` ints — negligible even at 10^12 rows, and it prunes
*before* the shuffle and the Python stage.

Atomicity: manifests are written strictly AFTER the docs commit
(manifest-last ordering). A crash between the two yields missing
manifest rows → those buckets re-run → the sink overwrites their
partitions (dynamic partition overwrite), which is idempotent because
extraction is deterministic. With an Iceberg catalog both writes can
instead share one transaction.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: one completion row per bucket; the types are the ones Spark's writer
#: gives this table, so driver-written and Spark-written manifest files
#: read as one schema
MANIFEST_SCHEMA = pa.schema(
    [
        ("partition_key", pa.int32()),
        ("n_docs", pa.int64()),
        ("n_failed", pa.int64()),
        ("status", pa.string()),
        ("run_id", pa.string()),
        ("n_buckets", pa.int32()),
        ("salt", pa.int32()),
        ("corpus_fp", pa.string()),
    ]
)


def corpus_fingerprint(df) -> str:
    """Fingerprint of the input file set. A bucket marked complete is
    only complete FOR THE CORPUS IT SAW: if the input grows, new pages
    hash into already-complete buckets and a fingerprint-less resume
    would silently skip them."""
    import hashlib

    files = sorted(df.inputFiles())
    return hashlib.md5("\n".join(files).encode()).hexdigest()


def manifest_from_metrics(
    metrics: pa.Table, run_id: str, n_buckets: int, salt: int, corpus_fp: str = ""
) -> pa.Table:
    """Completion rows derived from the collected per-bucket metrics
    (operators.metrics.build_metrics) — so the post-write verification
    pass scans the durable sink ONCE for both side tables, and the
    manifest costs no Spark job at all."""
    n = metrics.num_rows

    def const(value, typ):
        return pa.array([value] * n, typ)

    return pa.table(
        [
            metrics["partition_key"],
            metrics["n_docs"],
            metrics["parse_failures"],
            const("complete", pa.string()),
            const(run_id, pa.string()),
            const(n_buckets, pa.int32()),
            const(salt, pa.int32()),
            const(corpus_fp, pa.string()),
        ],
        schema=MANIFEST_SCHEMA,
    )


def completed_buckets(
    spark: SparkSession,
    manifest_path: str,
    n_buckets: int,
    salt: int,
    corpus_fp: str = "",
) -> list[int]:
    """Bucket ids already marked complete for this (corpus, n_buckets,
    salt) configuration. Missing manifest table ⇒ nothing completed."""
    try:
        m = spark.read.parquet(manifest_path)
    except Exception:
        return []
    rows = (
        m.where(
            (F.col("status") == "complete")
            & (F.col("n_buckets") == n_buckets)
            & (F.col("salt") == salt)
            & (F.col("corpus_fp") == corpus_fp)
        )
        .select("partition_key")
        .distinct()
        .collect()
    )
    return sorted(r.partition_key for r in rows)


def filter_completed(df: DataFrame, done: list[int]) -> DataFrame:
    """Prune completed buckets before shuffle + extraction. ``done`` is
    ≤ n_buckets ints → a literal IN-list the optimizer pushes into the
    scan; no join, no shuffle."""
    if not done:
        return df
    return df.where(~F.col("partition_key").isin(done))
