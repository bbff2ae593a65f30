"""Salted url-hash repartitioning — the skew defuse required by the
north rule (SURVEY.md §2.12).

Why: Common-Crawl corpora are domain-skewed (a few domains own a large
share of pages, and crawl files arrive grouped by domain), so
file-order partitions feed some executors giant pages/domains while
others idle. AQE rebalances *joins*, not a skewed ``mapInPandas`` /
pandas-UDF stage, so the extraction stage needs an explicit uniform
redistribution.

How: hash the full url with ``xxhash64`` (64-bit, JVM-side, cheap) and
add a run-scoped salt before taking the partition modulus. Distinct
urls already spread uniformly under the hash; the salt decorrelates
the layout from any previous run's bucketing (adversarial alignment,
stragglers from sticky partition→executor maps) and gives deterministic
re-bucketing knobs for resume (see ``manifests.partition_key``).

Given the sink's bucket count the placement is also *bucket-aligned*:
every task holds whole ``url_bucket`` values (or a slice of exactly one
bucket), so a ``partitionBy(partition_key)`` write straight out of the
extraction stage opens one file per bucket — no second shuffle to
regroup the docs by bucket.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Upper bound on the fullest task's bucket count over the mean share
#: in a whole-bucket placement (see :func:`bucket_aligned_partitions`).
MAX_BUCKET_SHARE = 1.25

#: Input bytes per sink bucket when the bucket count is derived from the
#: input (see :func:`buckets_for_bytes`): about one
#: :func:`partitions_for_bytes` task's input.
BUCKET_TARGET_BYTES = 64 * 1024**2

#: The most sink buckets a derived count gives: inputs of 16 GB and more,
#: and inputs of unknown size.
MAX_BUCKETS = 256


def url_bucket(url: Column | str, n_buckets: int, salt: int = 0) -> Column:
    """Stable bucket id in [0, n_buckets) for a url — pure function of
    (url, n_buckets, salt), independent of Spark's runtime partitioning,
    so it can key resume manifests across runs and cluster sizes."""
    col = F.col(url) if isinstance(url, str) else url
    return F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(n_buckets)).cast("int")


def bucket_aligned_partitions(num_partitions: int, n_buckets: int) -> int:
    """Partition count for a placement that never splits a bucket
    across tasks unless each task holds a slice of just one bucket.

    * ``P > B``: ``B·k`` partitions with ``k = ⌈P/B⌉`` slices per
      bucket.
    * ``P ≤ B``: each task holds ``q = ⌈B/P⌉`` buckets at most, and the
      fewest tasks with that bound is ``⌈B/q⌉`` (never more than P).
      If ``b mod P`` would then leave the fullest task above
      :data:`MAX_BUCKET_SHARE` × the mean share (only for tiny B), one
      bucket per task instead."""
    if num_partitions > n_buckets:
        return n_buckets * math.ceil(num_partitions / n_buckets)
    p = math.ceil(n_buckets / math.ceil(n_buckets / num_partitions))
    if math.ceil(n_buckets / p) * p > MAX_BUCKET_SHARE * n_buckets:
        return n_buckets
    return p


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    url_col: str = "url",
    salt: int = 0,
    n_buckets: int | None = None,
) -> DataFrame:
    """Repartition by salted url-hash ahead of the extraction UDF.

    The partition id comes from the full 64-bit hash
    ``h = xxhash64(url, salt)`` and is placed as is with
    ``repartitionById`` (re-hashing an already-reduced value would
    collide). Without ``n_buckets`` it is ``pmod(h, P)``. With
    ``n_buckets`` (B) the count becomes
    :func:`bucket_aligned_partitions` and, for ``b = pmod(h, B)`` (the
    :func:`url_bucket`), the id is ``b mod P`` when P ≤ B and
    ``b·k + pmod(h div B, k)`` when P > B."""
    h = F.xxhash64(F.col(url_col), F.lit(salt))
    if n_buckets is None:
        pid = F.pmod(h, F.lit(num_partitions))
    else:
        num_partitions = bucket_aligned_partitions(num_partitions, n_buckets)
        b = F.pmod(h, F.lit(n_buckets))
        if num_partitions <= n_buckets:
            pid = F.pmod(b, F.lit(num_partitions))
        else:
            k = num_partitions // n_buckets
            pid = b * k + F.pmod(F.call_function("div", h, F.lit(n_buckets)), F.lit(k))
    return df.repartitionById(num_partitions, pid.cast("int"))


def _parse_byte_size(s: str) -> int:
    """Parse Spark byte-size strings ('134217728b', '128m', '1g')."""
    s = s.strip().lower()
    units = {"b": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    mult = 1
    while s and s[-1] in units:
        mult = units[s[-1]]
        s = s[:-1]
    return int(float(s) * mult) if s else 128 * 1024**2


def partitions_for_bytes(
    total_bytes: int,
    cpus: int,
    target_partition_bytes: int = 64 * 1024**2,
    max_partitions: int | None = None,
) -> int:
    """Partition count for a CPU-bound Arrow-UDF stage, sized by DATA
    VOLUME with a one-wave floor.

    Each Python-UDF task costs a fixed worker round-trip (Arrow stream
    setup + scheduling, ~100-300 ms measured on local[32]); a task
    under tens of MB is mostly that overhead. Profiled at the bench
    corpus (100k docs, ~56 MB): 128 partitions → 51k docs/s, 32
    partitions → 108-118k docs/s — the 4-wave layout spent 2.3× the
    wall time on per-task overhead. So: one partition per
    ``target_partition_bytes`` (64 MB default, half Spark's
    maxPartitionBytes since extraction roughly doubles resident size),
    floored at one task per core so every core works, optionally
    capped. At 100 TB this yields ~1.6M partitions — the same shape a
    real cluster's scan would produce — while a 56 MB bench input gets
    exactly ``cpus`` tasks in a single wave."""
    want = max(cpus, math.ceil(total_bytes / target_partition_bytes))
    if max_partitions is not None:
        want = min(want, max_partitions)
    return want


def buckets_for_bytes(input_bytes: int | None) -> int:
    """Sink bucket count for an input of ``input_bytes``:
    ``⌈input_bytes / BUCKET_TARGET_BYTES⌉`` clamped to
    ``[1, MAX_BUCKETS]``; unknown bytes (None) give ``MAX_BUCKETS``.

    Each bucket is one directory and at least one parquet file, and
    most of a small sink's wall time is that fixed cost per file, paid
    at the write and again at the read-back. The count is a pure
    function of the input — never of cores or cluster size — so a
    ``--resume`` over the same files derives the same count."""
    if input_bytes is None:
        return MAX_BUCKETS
    return min(MAX_BUCKETS, max(1, math.ceil(input_bytes / BUCKET_TARGET_BYTES)))


def _scan_input_bytes(df: DataFrame) -> int | None:
    """Total bytes behind the plan's file listing — pure plan
    analysis, never a Spark job. (``df.rdd`` is NOT safe for this:
    with AQE enabled it finalizes the adaptive plan, which eagerly
    EXECUTES every upstream shuffle stage, and a later action on the
    same uncached df re-runs them.)

    Returns None (= unknown) for non-scan-backed plans and whenever a
    listed file cannot be stat'ed locally (s3/hdfs)."""
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:  # streaming / non-file relations
        return None
    if not files:
        return None
    total = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("file", ""):
            return None
        path = parsed.path or f
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return total


def _scan_split_estimate(df: DataFrame) -> int | None:
    """Estimated scan-partition count from the plan's file listing —
    see :func:`_scan_input_bytes` for why this never touches df.rdd.

    Returns None (= unknown) when the byte total is unknown: unknown
    means pass-through, so at real scale — where the estimate is
    beside the point — this guard can never inject a surprise
    shuffle."""
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    max_bytes = _parse_byte_size(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    splits = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("file", ""):
            return None
        path = parsed.path or f
        try:
            size = os.path.getsize(path)
        except OSError:
            return None
        splits += max(1, math.ceil(size / max_bytes))
    return splits


def ensure_min_parallelism(df: DataFrame, floor: int | None = None) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism
    when the input's SCAN yields fewer splits — otherwise pass through.

    CPU-heavy stages (minhash/simhash fingerprints, Arrow UDFs, LSH
    banding) inherit the scan's split count: a small corpus in one
    parquet file runs them in ONE task regardless of cores. At real
    scale a 100 TB scan yields thousands of splits and this is a
    no-op; below the floor the narrow shuffle is trivially cheap
    relative to the work it parallelizes.

    The split count is estimated statically from the file listing
    (`_scan_split_estimate`) — one plan analysis, zero Spark jobs, no
    AQE finalization, so calling this on an uncached shuffled plan
    never double-executes upstream stages. When the estimate is
    unknown (non-file source, remote filesystem, or an upstream
    shuffle-only plan) the input passes through, whatever its
    partition count: an AQE-coalesced shuffle output can be a single
    partition (curate's op checkpoints on a small corpus hold 1), and
    then the stage after this guard runs as one task."""
    want = floor or df.sparkSession.sparkContext.defaultParallelism
    est = _scan_split_estimate(df)
    if est is not None and est < want:
        return df.repartition(want)
    return df
