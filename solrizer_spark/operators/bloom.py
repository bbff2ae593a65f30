"""Broadcast Bloom filter: cross-increment exact dedup without a join.

At 10^12 documents the exact-dedup stage of
:func:`solrizer_spark.operators.dedup.dedup_against_base` anti-joins
every crawl increment against the full base corpus's hash set — a
shuffle whose big side is the BASE, re-paid per increment. The
classic production structure (RefinedWeb, Dolma, CCNet all ship a
variant) is a Bloom filter built ONCE over the base and broadcast to
the increment job: each new row is checked executor-locally against
``k`` bit positions — zero shuffle, zero join, and the filter is
mergeable (bitwise OR), so yesterday's admitted increment folds into
the filter in O(filter size) before today's run.

Semantics are asymmetric, and both directions are useful:

* "definitely new" is EXACT — a Bloom filter has no false negatives
  by construction, so no duplicate of the base ever survives
  :func:`bloom_dedup`.
* "maybe duplicate" carries false-positive rate ``p`` (sized by the
  builder): in probabilistic mode ~``p`` of genuinely-new rows are
  lost — the standard trade for web-crawl dedup, where dropping
  0.1% of new pages is free. Where loss is not acceptable,
  :func:`bloom_dedup_exact` uses the filter as a PREFILTER: only the
  ~``p``-sized "maybe" slice anti-joins the base, so the join's
  probe side shrinks by ``(1-p)`` while the result stays exactly
  equal to the plain anti-join (pinned by test).

Sizing (`bloom_params`): ``m = -n·ln p / (ln 2)²`` bits,
``k = (m/n)·ln 2`` hashes — 9.6 bits/item at 1%, 14.4 at 0.1%. The
bit array is stored CHUNKED (16 MiB chunks) so Arrow/pickle never
see one giant cell, and two build strategies cover the size range:

* ``strategy="local"`` (default): each input partition OR-folds a
  full local bitmap (one ``mapInPandas`` pass over JVM-computed
  xxhash64 pairs), then a two-level tree OR (≤16 combiner rows)
  reduces to the final array. No position shuffle; per-task memory
  = filter size, so it is capped at ``LOCAL_BUILD_MAX_BITS``
  (2^31 bits = 256 MiB ≈ 2.2×10^8 items at 1%).
* ``strategy="shuffle"``: positions are computed JVM-side-hashed /
  numpy-expanded, tagged with their chunk id, and each chunk's
  bitmap is built by its own ``applyInPandas`` group — per-task
  memory = one chunk, the shuffle moves ``n·k`` int64 positions
  (56 GB for 10^9 items at 1%: routine on a cluster), and the
  filter can grow to whatever the driver + broadcast can hold
  (a few GiB ≈ 10^9-10^10 items). Both strategies are pinned
  bit-identical by test.

Beyond one broadcastable filter (≳10^10 base items), use the SHARDED
INDEX form (`bloom_index_build` / `bloom_index_dedup`): values route
to one of S independent filters by a hash router, the build writes
each shard's chunks straight into a parquet side table (no filter
bytes pass through the driver — total index size is bounded only by
storage), and the probe repartitions the increment by the same
router so each task loads only ITS shard's chunks (worker-local
pyarrow read, cached per executor process). Per-task memory = one
shard, at the cost of one increment-side shuffle.

Hashing: Kirsch-Mitzenmacher double hashing — position_i =
(h1 + i·h2) mod m with h1 = xxhash64(value, seed),
h2 = xxhash64(value, seed') — both computed JVM-side (zero Python
in the hash path), expanded to k positions in vectorized numpy
inside the Arrow UDF. NULL values never enter the filter and never
match it (mirrors ``dedup_against_base``: a null can't duplicate
anything).

Reference analog: the reference deduplicates per-request by Solr id
lookup (src/solrizer/solr.py:12-26 — query the index, skip seen);
this operator is that membership test re-expressed as a
batch-broadcast structure.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "BloomFilter",
    "bloom_params",
    "bloom_build",
    "bloom_might_contain",
    "bloom_dedup",
    "bloom_dedup_exact",
    "save_bloom",
    "load_bloom",
    "bloom_index_build",
    "bloom_index_might_contain",
    "bloom_index_dedup",
]

#: storage chunk size — 16 MiB keeps every Arrow/pickle cell small
CHUNK_BYTES = 1 << 24
#: "local" build strategy cap: per-task bitmap memory = filter size
LOCAL_BUILD_MAX_BITS = 1 << 31
#: seed offsets for the two xxhash64 legs (any distinct constants)
_H2_OFFSET = 0x9E3779B9


@dataclass(frozen=True)
class BloomFilter:
    """An immutable built filter: one logical bit array of
    ``bits_total`` bits stored as 16 MiB chunks, plus the hash
    parameters needed to query it."""

    bits_total: int
    k: int
    seed: int
    n_items: int  # items inserted at build time (info only)
    chunks: tuple[bytes, ...]

    @property
    def nbytes(self) -> int:
        return sum(len(c) for c in self.chunks)

    def fill_ratio(self) -> float:
        """Fraction of set bits — sanity probe: a healthy filter sits
        near ``1 - e^(-kn/m)`` (≈0.5 at the optimal k)."""
        total = sum(
            int(np.unpackbits(np.frombuffer(c, dtype=np.uint8)).sum())
            for c in self.chunks
        )
        return total / self.bits_total

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        """Bitwise-OR union — valid only for identically-parameterized
        filters. This is the cross-increment accumulation path: fold
        each admitted increment's filter into the base filter instead
        of rebuilding over the whole corpus."""
        if (self.bits_total, self.k, self.seed) != (
            other.bits_total,
            other.k,
            other.seed,
        ):
            raise ValueError(
                "merge requires identical (bits_total, k, seed): "
                f"{(self.bits_total, self.k, self.seed)} vs "
                f"{(other.bits_total, other.k, other.seed)}"
            )
        merged = tuple(
            (
                np.frombuffer(a, dtype=np.uint8)
                | np.frombuffer(b, dtype=np.uint8)
            ).tobytes()
            for a, b in zip(self.chunks, other.chunks)
        )
        return BloomFilter(
            self.bits_total,
            self.k,
            self.seed,
            self.n_items + other.n_items,
            merged,
        )


def bloom_params(expected_items: int, fpp: float) -> tuple[int, int]:
    """Optimal ``(bits_total, k)`` for ``expected_items`` at target
    false-positive rate ``fpp``: m = -n·ln p/(ln 2)², k = (m/n)·ln 2.
    ``bits_total`` is rounded up to a whole chunk's worth of bytes so
    the chunked storage has no ragged tail."""
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    n = max(1, expected_items)
    m = math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))
    m = max(64, m)
    # round bytes up to a multiple of 8 (whole uint64s); chunking pads
    # the last chunk with zero bytes, which never affects membership
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _hash_cols(col: Column, seed: int) -> tuple[Column, Column]:
    """The two JVM-side xxhash64 legs of the double-hashing scheme.
    NULL inputs are the caller's problem (xxhash64 skips null args,
    which would alias every null to hash(seed) alone)."""
    h1 = F.xxhash64(col, F.lit(seed))
    h2 = F.xxhash64(col, F.lit(seed + _H2_OFFSET))
    return h1, h2


def _positions(
    h1: np.ndarray, h2: np.ndarray, k: int, bits_total: int
) -> np.ndarray:
    """(n, k) uint64 bit positions via double hashing. uint64
    arithmetic wraps mod 2^64 by construction (numpy array ops),
    which is the intended Kirsch-Mitzenmacher recurrence."""
    a = h1.astype(np.int64).view(np.uint64)[:, None]
    b = h2.astype(np.int64).view(np.uint64)[:, None]
    i = np.arange(k, dtype=np.uint64)[None, :]
    return (a + i * b) % np.uint64(bits_total)


def _set_bits(bitmap: np.ndarray, pos: np.ndarray) -> None:
    """OR positions into a uint8 bitmap (little-endian within byte).
    ``bitwise_or.at`` is unbuffered, so duplicate positions are safe."""
    flat = pos.ravel()
    np.bitwise_or.at(
        bitmap,
        (flat >> np.uint64(3)).astype(np.int64),
        (np.uint8(1) << (flat & np.uint64(7)).astype(np.uint8)),
    )


def _test_bits(chunks: tuple[bytes, ...], pos: np.ndarray) -> np.ndarray:
    """(n,) bool — all k bits set. Chunk lookup is pure index math
    (chunk = byte // CHUNK_BYTES) because every chunk except possibly
    the logical tail is exactly CHUNK_BYTES long."""
    byte_idx = (pos >> np.uint64(3)).astype(np.int64)
    bit = np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
    out = np.empty(pos.shape, dtype=bool)
    chunk_of = byte_idx // CHUNK_BYTES
    off = byte_idx % CHUNK_BYTES
    for ci in np.unique(chunk_of):
        arr = np.frombuffer(chunks[int(ci)], dtype=np.uint8)
        sel = chunk_of == ci
        out[sel] = (arr[off[sel]] & bit[sel]) != 0
    return out.all(axis=1)


def _to_chunks(bitmap: np.ndarray) -> tuple[bytes, ...]:
    raw = bitmap.tobytes()
    return tuple(
        raw[i : i + CHUNK_BYTES] for i in range(0, len(raw), CHUNK_BYTES)
    )


def bloom_build(
    df: DataFrame,
    col: str,
    expected_items: int | None = None,
    fpp: float = 0.01,
    bits_total: int | None = None,
    k: int | None = None,
    seed: int = 0,
    strategy: str = "local",
) -> BloomFilter:
    """Build a filter over the distinct non-null values of ``df[col]``.

    Size either by ``(expected_items, fpp)`` (the normal path) or by
    explicit ``(bits_total, k)``. ``strategy="local"`` OR-folds a
    full per-partition bitmap and tree-merges (no position shuffle;
    capped at ``LOCAL_BUILD_MAX_BITS``); ``strategy="shuffle"``
    groups positions by chunk so per-task memory is one 16 MiB chunk
    regardless of filter size. Bit-identical results (pinned by
    test).

    The value hashing (xxhash64 ×2) runs JVM-side; Python sees only
    two int64 columns per row.
    """
    if bits_total is None or k is None:
        if expected_items is None:
            raise ValueError("pass expected_items+fpp or bits_total+k")
        bits_total, k = bloom_params(expected_items, fpp)
    if bits_total % 64:
        raise ValueError(f"bits_total must be a multiple of 64: {bits_total}")
    nbytes = bits_total // 8
    n_chunks = (nbytes + CHUNK_BYTES - 1) // CHUNK_BYTES

    h1, h2 = _hash_cols(F.col(col), seed)
    hashed = (
        df.where(F.col(col).isNotNull())
        .select(h1.alias("h1"), h2.alias("h2"))
    )

    if strategy == "local":
        if bits_total > LOCAL_BUILD_MAX_BITS:
            raise ValueError(
                f"local build caps at {LOCAL_BUILD_MAX_BITS} bits "
                f"(per-task memory = filter size); use strategy='shuffle' "
                f"for {bits_total} bits"
            )
        chunks = _local_build(hashed, bits_total, k, nbytes)
    elif strategy == "shuffle":
        chunks = _shuffle_build(hashed, bits_total, k, n_chunks, nbytes)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    # info-only field: HLL one-pass estimate, not an exact distinct
    # (a distinct().count() would add a full shuffle at 10^9 rows)
    n_items = int(
        df.where(F.col(col).isNotNull())
        .agg(F.approx_count_distinct(col).alias("n"))
        .collect()[0]["n"]
    )
    return BloomFilter(bits_total, k, seed, n_items, chunks)


def _or_fold_udf(nbytes: int, bits_total: int, k: int):
    """mapInPandas body: consume ALL of a partition's batches into one
    local bitmap, yield it once — so the stage emits exactly one
    ``nbytes`` row per partition, never one per Arrow batch."""

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bitmap = np.zeros(nbytes, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if len(pdf):
                any_rows = True
                _set_bits(
                    bitmap,
                    _positions(
                        pdf["h1"].to_numpy(), pdf["h2"].to_numpy(), k, bits_total
                    ),
                )
        if any_rows:
            yield pd.DataFrame({"bitmap": [bitmap.tobytes()]})

    return fold


def _or_merge_udf(nbytes: int):
    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = np.zeros(nbytes, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            for raw in pdf["bitmap"]:
                any_rows = True
                acc |= np.frombuffer(raw, dtype=np.uint8)
        if any_rows:
            yield pd.DataFrame({"bitmap": [acc.tobytes()]})

    return merge

def _local_build(
    hashed: DataFrame, bits_total: int, k: int, nbytes: int
) -> tuple[bytes, ...]:
    partials = hashed.mapInPandas(
        _or_fold_udf(nbytes, bits_total, k), "bitmap binary"
    )
    # two-level tree: ≤16 combiner tasks each OR a slice of the
    # per-partition bitmaps, then ONE task ORs the ≤16 survivors so
    # the driver fetches exactly one nbytes row — the same shape
    # treeAggregate(depth=2) gives, expressed in DataFrames. A single
    # collect() action runs the whole tree as one job; the previous
    # toLocalIterator() form scheduled one job PER merge partition
    # (16+ sequential jobs, ~3.5 s of pure scheduling latency at any
    # input size — profiled round 6).
    combined = (
        partials.repartition(16)
        .mapInPandas(_or_merge_udf(nbytes), "bitmap binary")
        .repartition(1)
        .mapInPandas(_or_merge_udf(nbytes), "bitmap binary")
    )
    rows = combined.collect()
    acc = np.zeros(nbytes, dtype=np.uint8)
    for row in rows:  # 0 rows (empty input) or 1
        acc |= np.frombuffer(row["bitmap"], dtype=np.uint8)
    return _to_chunks(acc)


def _shuffle_build(
    hashed: DataFrame, bits_total: int, k: int, n_chunks: int, nbytes: int
) -> tuple[bytes, ...]:
    chunk_bits = CHUNK_BYTES * 8

    def explode_positions(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            pos = _positions(
                pdf["h1"].to_numpy(), pdf["h2"].to_numpy(), k, bits_total
            ).ravel()
            yield pd.DataFrame(
                {
                    "chunk_id": (pos // np.uint64(chunk_bits)).astype(np.int32),
                    "off": (pos % np.uint64(chunk_bits)).astype(np.int64),
                }
            )

    def build_chunk(key, pdf):
        size = min(CHUNK_BYTES, nbytes - key[0] * CHUNK_BYTES)
        bitmap = np.zeros(size, dtype=np.uint8)
        off = pdf["off"].to_numpy().view(np.uint64)
        np.bitwise_or.at(
            bitmap,
            (off >> np.uint64(3)).astype(np.int64),
            (np.uint8(1) << (off & np.uint64(7)).astype(np.uint8)),
        )
        return pd.DataFrame({"chunk_id": [key[0]], "bitmap": [bitmap.tobytes()]})

    rows = (
        hashed.mapInPandas(explode_positions, "chunk_id int, off long")
        .groupBy("chunk_id")
        .applyInPandas(build_chunk, "chunk_id int, bitmap binary")
        .collect()
    )
    by_id = {r["chunk_id"]: r["bitmap"] for r in rows}
    out = []
    for ci in range(n_chunks):
        size = min(CHUNK_BYTES, nbytes - ci * CHUNK_BYTES)
        out.append(by_id.get(ci, b"\x00" * size))
    return tuple(out)


def bloom_might_contain(
    df: DataFrame,
    col: str,
    bf: BloomFilter,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Adds boolean ``out_col``: True = maybe in the filter (FP rate
    as sized), False = DEFINITELY not (exact). NULL values are never
    hits. The filter rides a real ``SparkContext.broadcast`` — one
    copy per executor, not one per task closure."""
    bc = df.sparkSession.sparkContext.broadcast((bf.chunks, bf.k, bf.bits_total))

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks, k, bits_total = bc.value
        for pdf in batches:
            ok = pdf["__bloom_nn"].to_numpy(dtype=bool)
            hit = np.zeros(len(pdf), dtype=bool)
            if ok.any():
                pos = _positions(
                    pdf["__bloom_h1"].to_numpy()[ok],
                    pdf["__bloom_h2"].to_numpy()[ok],
                    k, bits_total,
                )
                hit[ok] = _test_bits(chunks, pos)
            out = pdf.drop(columns=["__bloom_h1", "__bloom_h2", "__bloom_nn"])
            out[out_col] = hit
            yield out

    h1, h2 = _hash_cols(F.col(col), bf.seed)
    # collision-proof working names (ADVICE r5): an input that already
    # carries columns named h1/h2 must not be silently overwritten
    with_h = df.withColumns(
        {"__bloom_h1": h1, "__bloom_h2": h2, "__bloom_nn": F.col(col).isNotNull()}
    )
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
    ) + f", `{out_col}` boolean"
    return with_h.mapInPandas(check, schema)


def bloom_dedup(df: DataFrame, col: str, bf: BloomFilter) -> DataFrame:
    """Probabilistic cross-increment dedup: drop rows whose ``col``
    might be in the filter. No duplicate of the filtered corpus
    survives (no false negatives); ~fpp of genuinely-new rows are
    lost. Zero shuffle, zero join — the 10^12-corpus shape."""
    flag = "__bloom_hit"
    return (
        bloom_might_contain(df, col, bf, out_col=flag)
        .where(~F.col(flag))
        .drop(flag)
    )


def bloom_dedup_exact(
    new_df: DataFrame, base_df: DataFrame, col: str, bf: BloomFilter
) -> DataFrame:
    """Exact cross-increment dedup with the filter as a prefilter:
    definite-new rows pass with no join at all; only the ~fpp "maybe"
    slice anti-joins the base's value set. Result is EXACTLY the
    plain distinct-value anti-join (pinned by test) — the filter only
    shrinks the probe side by (1 - fpp)."""
    flag = "__bloom_hit"
    flagged = bloom_might_contain(new_df, col, bf, out_col=flag).persist()
    definite_new = flagged.where(~F.col(flag)).drop(flag)
    maybe = flagged.where(F.col(flag)).drop(flag)
    base_vals = (
        base_df.where(F.col(col).isNotNull())
        .select(F.col(col).alias("__bv"))
        .distinct()
    )
    cleared = maybe.join(
        base_vals, maybe[col] == F.col("__bv"), "left_anti"
    )
    out = definite_new.unionByName(cleared)
    # note: caller should unpersist `flagged` after materializing; we
    # can't here without forcing an action. The persist guards the
    # double consumption (both branches scan the same UDF output).
    return out


def save_bloom(spark: SparkSession, bf: BloomFilter, path: str) -> None:
    """Durable side table: (chunk_id, chunk) rows + parameters
    replicated per row (a handful of 16 MiB rows — bounded)."""
    rows = [
        (i, bytearray(c), bf.bits_total, bf.k, bf.seed, bf.n_items)
        for i, c in enumerate(bf.chunks)
    ]
    spark.createDataFrame(
        rows,
        "chunk_id int, chunk binary, bits_total long, k int, seed long, n_items long",
    ).write.mode("overwrite").parquet(path)


def load_bloom(spark: SparkSession, path: str) -> BloomFilter:
    rows = spark.read.parquet(path).collect()
    if not rows:
        raise ValueError(f"empty bloom filter table at {path}")
    rows.sort(key=lambda r: r["chunk_id"])
    first = rows[0]
    return BloomFilter(
        first["bits_total"],
        first["k"],
        first["seed"],
        first["n_items"],
        tuple(bytes(r["chunk"]) for r in rows),
    )


# --------------------------------------------------------------------------
# sharded bloom index: past one broadcastable filter (~10^10 items)
# --------------------------------------------------------------------------
#
# One filter stops working when its bit array outgrows the broadcast /
# executor-memory budget (~10^10 items at 1% ≈ 12 GB). The production
# shape past that is key-space sharding: route every value to one of S
# independent filters by a hash prefix, build each shard's bit array
# DIRECTLY into a parquet side table (the driver never holds the index
# — total index size is unbounded), and at query time repartition the
# increment by the same router so each task loads only ITS shard's
# chunks (worker-local pyarrow read, cached per executor process).
# Per-task memory = one shard, not the index.

#: router seed offset — distinct from the h1/h2 position seeds so the
#: shard routing is independent of the in-shard bit positions
_ROUTER_OFFSET = 0x51_7C_C1B7

#: per-worker cache: (index_path, shard, chunk_id) -> bytes. Lives for
#: the executor python process, so repeated batches of the same shard
#: read the side table once.
_SHARD_CHUNK_CACHE: dict = {}


def _router(col: Column, seed: int, n_shards: int) -> Column:
    return F.pmod(
        F.xxhash64(col, F.lit(seed + _ROUTER_OFFSET)), F.lit(n_shards)
    ).cast("int")


def bloom_index_build(
    df: DataFrame,
    col: str,
    index_path: str,
    n_shards: int,
    expected_items: int,
    fpp: float = 0.01,
    seed: int = 0,
) -> dict:
    """Build an S-shard bloom index over ``df[col]`` straight into a
    parquet side table at ``index_path`` — no filter bytes ever pass
    through the driver, so total index size is bounded only by
    storage. Each shard is an independent filter sized for
    ``expected_items / n_shards`` values at ``fpp``.

    Layout: ``{index_path}/chunks`` — rows (shard, chunk_id, chunk);
    absent (shard, chunk_id) pairs are all-zero by construction and
    are reconstructed as zeros at probe time.
    ``{index_path}/meta`` — one row of parameters.

    The build shuffles (shard, chunk, offset) int rows — n·k·16 bytes,
    the same volume discipline as the ``shuffle`` strategy — and each
    ``applyInPandas`` group materializes exactly one 16 MiB chunk.
    """
    per_shard = max(1, math.ceil(expected_items / n_shards))
    bits_shard, k = bloom_params(per_shard, fpp)
    nbytes_shard = bits_shard // 8
    chunk_bits = CHUNK_BYTES * 8

    h1, h2 = _hash_cols(F.col(col), seed)
    hashed = df.where(F.col(col).isNotNull()).select(
        h1.alias("h1"),
        h2.alias("h2"),
        _router(F.col(col), seed, n_shards).alias("shard"),
    )

    def explode_positions(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            pos = _positions(
                pdf["h1"].to_numpy(), pdf["h2"].to_numpy(), k, bits_shard
            )
            n, kk = pos.shape
            yield pd.DataFrame(
                {
                    "shard": np.repeat(
                        pdf["shard"].to_numpy(np.int32), kk
                    ),
                    "chunk_id": (pos.ravel() // np.uint64(chunk_bits)).astype(
                        np.int32
                    ),
                    "off": (pos.ravel() % np.uint64(chunk_bits)).astype(
                        np.int64
                    ),
                }
            )

    def build_chunk(key, pdf):
        shard, chunk_id = int(key[0]), int(key[1])
        size = min(CHUNK_BYTES, nbytes_shard - chunk_id * CHUNK_BYTES)
        bitmap = np.zeros(size, dtype=np.uint8)
        off = pdf["off"].to_numpy().view(np.uint64)
        np.bitwise_or.at(
            bitmap,
            (off >> np.uint64(3)).astype(np.int64),
            (np.uint8(1) << (off & np.uint64(7)).astype(np.uint8)),
        )
        return pd.DataFrame(
            {"shard": [shard], "chunk_id": [chunk_id], "chunk": [bitmap.tobytes()]}
        )

    (
        hashed.mapInPandas(explode_positions, "shard int, chunk_id int, off long")
        .groupBy("shard", "chunk_id")
        .applyInPandas(build_chunk, "shard int, chunk_id int, chunk binary")
        .write.mode("overwrite")
        .parquet(f"{index_path}/chunks")
    )
    spark = df.sparkSession
    meta = {
        "n_shards": n_shards,
        "bits_shard": bits_shard,
        "k": k,
        "seed": seed,
        "fpp": fpp,
    }
    spark.createDataFrame(
        [tuple(meta.values())],
        "n_shards int, bits_shard long, k int, seed long, fpp double",
    ).write.mode("overwrite").parquet(f"{index_path}/meta")
    return meta


def _load_shard_chunks(index_path: str, shard: int) -> dict[int, np.ndarray]:
    """Worker-local read of one shard's chunk rows (pyarrow, filtered
    scan on the shard column), cached per executor process."""
    key = (index_path, shard)
    cached = _SHARD_CHUNK_CACHE.get(key)
    if cached is not None:
        return cached
    import pyarrow.dataset as ds

    table = ds.dataset(f"{index_path}/chunks", format="parquet").to_table(
        filter=ds.field("shard") == shard
    )
    chunks = {
        int(cid): np.frombuffer(raw, dtype=np.uint8)
        for cid, raw in zip(
            table["chunk_id"].to_pylist(), table["chunk"].to_pylist()
        )
    }
    _SHARD_CHUNK_CACHE[key] = chunks
    return chunks


def bloom_index_might_contain(
    df: DataFrame, col: str, index_path: str, out_col: str = "bloom_hit"
) -> DataFrame:
    """Sharded-index membership: repartition by the router so each
    task touches ~``n_shards / tasks`` shards, then probe each row's
    k positions against its shard's worker-cached chunks. A
    (shard, chunk) absent from the index is all-zeros → definite
    miss. NULLs are never hits."""
    spark = df.sparkSession
    meta = spark.read.parquet(f"{index_path}/meta").collect()[0]
    n_shards, bits_shard, k, seed = (
        meta["n_shards"],
        meta["bits_shard"],
        meta["k"],
        meta["seed"],
    )

    h1, h2 = _hash_cols(F.col(col), seed)
    # collision-proof working names (ADVICE r5): an input that already
    # carries columns named h1/h2 must not be silently overwritten
    with_h = df.withColumns(
        {
            "__bloom_h1": h1,
            "__bloom_h2": h2,
            "__shard": _router(F.col(col), seed, n_shards),
            "__bloom_nn": F.col(col).isNotNull(),
        }
    )
    # hash-partition ON the shard column. NOTE (ADVICE r5): a column
    # with only n_shards distinct values fills at most n_shards
    # non-empty partitions regardless of the partition count, so the
    # probe's effective parallelism is capped at S — size n_shards ≥
    # cluster width when building the index. The max() below only
    # spreads the S non-empty partitions across distinct tasks
    # (avoiding two shards hashed into one task at small counts); it
    # cannot widen beyond S.
    n_parts = max(n_shards, spark.sparkContext.defaultParallelism)
    routed = with_h.repartition(n_parts, F.col("__shard"))

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hit = np.zeros(len(pdf), dtype=bool)
            ok = pdf["__bloom_nn"].to_numpy(dtype=bool)
            shards = pdf["__shard"].to_numpy()
            for shard in np.unique(shards[ok]):
                chunks = _load_shard_chunks(index_path, int(shard))
                sel = ok & (shards == shard)
                pos = _positions(
                    pdf["__bloom_h1"].to_numpy()[sel],
                    pdf["__bloom_h2"].to_numpy()[sel],
                    k,
                    bits_shard,
                )
                byte_idx = (pos >> np.uint64(3)).astype(np.int64)
                bit = np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
                res = np.zeros(pos.shape, dtype=bool)
                chunk_of = byte_idx // CHUNK_BYTES
                off = byte_idx % CHUNK_BYTES
                for ci in np.unique(chunk_of):
                    arr = chunks.get(int(ci))
                    csel = chunk_of == ci
                    if arr is None:  # never-written chunk = all zeros
                        res[csel] = False
                    else:
                        res[csel] = (arr[off[csel]] & bit[csel]) != 0
                hit[sel] = res.all(axis=1)
            out = pdf.drop(columns=["__bloom_h1", "__bloom_h2", "__shard", "__bloom_nn"])
            out[out_col] = hit
            yield out

    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", `{out_col}` boolean"
    return routed.mapInPandas(check, schema)


def bloom_index_dedup(df: DataFrame, col: str, index_path: str) -> DataFrame:
    """Probabilistic dedup against a sharded index — the ≥10^10-item
    form of :func:`bloom_dedup` (same guarantees: no false negatives,
    ~fpp of new rows lost)."""
    flag = "__bloom_hit"
    return (
        bloom_index_might_contain(df, col, index_path, out_col=flag)
        .where(~F.col(flag))
        .drop(flag)
    )
