"""Deduplication operators for training-data pipelines.

No reference analog (solrizer indexes one record per request; its only
dup check is indexer-name validation, web.py:286-287) — these are the
corpus-scale operators a 10^12-document extraction pipeline feeds:

* :func:`make_minhash_kernel`  word-shingle MinHash as one numpy
                             kernel over an Arrow string array (band
                             keys + shingle-hash set per text)
* :func:`minhash_lsh_pairs`  banded-LSH candidate generation + exact
                             Jaccard verification (numpy on the driver
                             for small inputs, one Arrow stage above)
* :func:`simhash`            64-ish-bit SimHash as a pure Column
                             expression (md5-derived token hashes, so a
                             SQL oracle can reproduce it bit-for-bit)
* :func:`ngram_jaccard`      exact shingle-set Jaccard between two
                             text columns
* :func:`connected_components`  pairs → transitive-closure cluster ids
                             (numpy on the driver for small pair
                             lists, large-star/small-star above)
* :func:`dedup_keep_canonical`  drop all but each cluster's min-id doc
* :func:`duplicate_spans` /  exact substring dedup at fixed window
  :func:`remove_duplicate_spans`  size (Lee et al. 2022 ExactSubstr)

Scale design: the MinHash side is one vectorized kernel
(:func:`make_minhash_kernel`: tokenize, hash, sketch and band-key each
text in one pass), run on the driver below
:data:`DRIVER_LSH_MAX_BYTES` of text and as one map-side Arrow stage
above it. Candidate generation groups by (band, band-hash) — never an
all-pairs join — and giant buckets are capped to bound worst-case
fan-out (a 10^12-corpus has pathological near-identical clusters:
caps keep the pair count linear-ish). Verification computes exact
Jaccard over the candidates' shingle-hash sets only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def cap_bucket_rows(df: DataFrame, keys: list[Column], order: list[Column], max_bucket: int) -> DataFrame:
    """Keep at most ``max_bucket`` rows per bucket, chosen
    deterministically (lowest ``order`` first), BEFORE any aggregation.

    This is the memory-safe form of bucket capping: a
    ``collect_list``-then-``slice`` bounds the *pair explosion* but
    still materializes the whole degenerate bucket in the aggregation
    buffer first — at 10^12-document scale a boilerplate/empty-page
    fingerprint bucket with 10^8 members OOMs the executor before the
    slice runs. ``row_number`` instead rides Spark's external
    (spill-to-disk) sort, so the aggregation only ever sees
    ``max_bucket`` rows per key. The downstream groupBy shares the
    window's hash partitioning, so the cap adds a sort but no extra
    shuffle. (A two-phase variant — count buckets, broadcast-semi-join
    the giant keys, window only those — was measured equal at bench
    scale; it becomes preferable only when the banded row count is so
    large that sorting all of it dominates the giant-bucket work.)"""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_bucket_rn", F.row_number().over(w))
        .where(F.col("_bucket_rn") <= max_bucket)
        .drop("_bucket_rn")
    )

#: 60-bit token hash with an exact DuckDB equivalent:
#: ``('0x' || substr(md5(t),1,15))::UBIGINT`` — keeps oracles honest.
def md5_hash60(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams (the string form of the shingle sets
    :func:`make_minhash_kernel` hashes)."""
    col = F.col(text) if isinstance(text, str) else text
    toks = F.split(col, " ")
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array(F.array_join(toks, " "))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        )
    )


#: Arrow/Spark type of :func:`minhash_sketch`: the ``bands`` LSH band
#: keys and the sorted, unique shingle-hash set of one text.
MINHASH_TYPE = "struct<bk:array<bigint>,sh:array<bigint>>"

#: Stamped into a :func:`write_lsh_index` index's ``params``: the
#: token hash, shingle hash, MinHash mix and band-key mix of
#: :func:`make_minhash_kernel`. An index written under another format
#: has other band keys and shingle hashes, so it cannot be queried.
LSH_KEY_FORMAT = "md5tok-splitmix64-v1"


def make_minhash_kernel(shingle_n: int = 3, num_hashes: int = 64, bands: int = 16):
    """The MinHash kernel (Broder 1997) as a pure function
    ``pa.StringArray -> struct<bk, sh>`` (:data:`MINHASH_TYPE`), called
    on the driver by :func:`minhash_lsh_pairs`' small-input path and
    as one ``arrow_udf`` (:func:`minhash_sketch`) everywhere else.

    * tokens: ``split(text, " ")``, empty tokens included — Spark's
      ``split``, so the shingles are :func:`word_shingles`'; each
      distinct token of the batch is md5-hashed once (the 60-bit
      :func:`md5_hash60` value);
    * ``sh``: a 64-bit mix of each ``shingle_n`` consecutive token
      hashes, sorted and unique. A text with fewer than ``shingle_n``
      tokens has one shingle, the whole text, hashed in a separate
      domain;
    * the ``num_hashes`` MinHash values: per seed, the minimum over
      ``sh`` of a seeded 64-bit mix (one ``minimum.reduceat`` over the
      document offsets);
    * ``bk``: per band, a mix of its ``num_hashes // bands`` values.

    Null text gives a null struct. Exact Jaccard over two ``sh`` sets
    equals the string-shingle Jaccard of :func:`ngram_jaccard` unless
    two distinct tokens of the pair collide in the 60-bit token hash
    or two distinct shingles in the 64-bit shingle hash. With ``k``
    distinct shingles in the pair (so at most ``k + shingle_n - 1``
    distinct tokens) that has probability below about ``k²/2⁶⁰``
    (~4·10⁻¹² for two 1,000-word texts).

    Everything the kernel reads is defined in this factory: a
    reference to a module global would make every worker import this
    module, and with it ``pyspark.sql.functions``."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    u64 = np.uint64
    c1, c2, odd = u64(0xBF58476D1CE4E5B9), u64(0x94D049BB133111EB), u64(0x9E3779B97F4A7C15)

    def mix(x, tmp=None):
        """splitmix64's finalizer, a bijection on uint64, in place
        (``tmp``: a scratch array of ``x``'s shape)."""
        tmp = np.empty_like(x) if tmp is None else tmp
        for shift, mul in ((u64(30), c1), (u64(27), c2), (u64(31), None)):
            np.right_shift(x, shift, out=tmp)
            x ^= tmp
            if mul is not None:
                x *= mul
        return x

    def md5_60(values) -> np.ndarray:
        digests = b"".join(hashlib.md5(v).digest()[:8] for v in values)
        return np.frombuffer(digests, dtype=">u8").astype(u64) >> u64(4)

    def ranges(starts, lens):
        """Concatenated ``arange(s, s + n)`` for each (s, n)."""
        ends = np.cumsum(lens)
        return np.repeat(starts - ends + lens, lens) + np.arange(ends[-1] if len(ends) else 0)

    seeds = mix(np.arange(1, num_hashes + 1, dtype=u64) * odd)
    rows = num_hashes // bands
    short_domain = u64(shingle_n)

    def kernel(texts: pa.Array) -> pa.Array:
        n_docs = len(texts)
        valid = texts.is_valid().to_numpy(zero_copy_only=False)
        toks = pc.split_pattern(texts, " ")
        lens = pc.list_value_length(toks).fill_null(0).to_numpy().astype(np.int64)
        flat = toks.flatten()
        enc = pc.dictionary_encode(flat)
        th = md5_60(enc.dictionary.cast(pa.binary()).to_pylist())[
            enc.indices.to_numpy(zero_copy_only=False)
        ]
        starts = np.cumsum(lens) - lens
        long_ = lens >= shingle_n
        n_sh = np.where(long_, lens - shingle_n + 1, 0)
        pos = ranges(starts, n_sh)
        h = th[pos]
        for j in range(1, shingle_n):
            h = mix(h * odd ^ th[pos + j])
        short = valid & ~long_
        short_h = mix(md5_60(texts.filter(pa.array(short)).cast(pa.binary()).to_pylist()) ^ short_domain)
        doc = np.concatenate([np.repeat(np.arange(n_docs), n_sh), np.flatnonzero(short)])
        vals = np.concatenate([h, short_h]).view(np.int64)
        order = np.lexsort((vals, doc))
        doc, vals = doc[order], vals[order]
        keep = np.ones(len(vals), dtype=bool)
        keep[1:] = (doc[1:] != doc[:-1]) | (vals[1:] != vals[:-1])
        doc, vals = doc[keep], vals[keep]
        counts = np.bincount(doc, minlength=n_docs)
        sh_off = np.concatenate([[0], np.cumsum(counts)])
        sig = np.empty((num_hashes, int(valid.sum())), dtype=u64)
        if sig.size:
            first = sh_off[:-1][valid]
            u = vals.view(u64)
            buf, tmp = np.empty_like(u), np.empty_like(u)
            for i, seed in enumerate(seeds):
                np.bitwise_xor(u, seed, out=buf)
                np.minimum.reduceat(mix(buf, tmp), first, out=sig[i])
        sig = sig.T.reshape(-1, bands, rows)
        bk = mix(sig[:, :, 0].copy())
        for r in range(1, rows):
            bk = mix(bk * odd ^ sig[:, :, r])
        bk_off = np.concatenate([[0], np.cumsum(np.where(valid, bands, 0))])
        return pa.StructArray.from_arrays(
            [
                pa.ListArray.from_arrays(pa.array(bk_off, pa.int32()), pa.array(bk.view(np.int64).ravel())),
                pa.ListArray.from_arrays(pa.array(sh_off, pa.int32()), pa.array(vals)),
            ],
            names=["bk", "sh"],
            mask=pa.array(~valid),
        )

    return kernel


def minhash_sketch(text: Column | str, shingle_n: int = 3, num_hashes: int = 64, bands: int = 16) -> Column:
    """:func:`make_minhash_kernel` as one Arrow-batched column of
    :data:`MINHASH_TYPE`."""
    from pyspark.sql.functions import arrow_udf

    return arrow_udf(make_minhash_kernel(shingle_n, num_hashes, bands), MINHASH_TYPE)(text)


def _capped_bands(sketch: DataFrame, id_col: str, max_bucket: int) -> DataFrame:
    """``(id, band, key)`` rows of a sketch frame's ``_mh.bk`` band
    keys, at most ``max_bucket`` lowest ids per bucket — the banding
    the durable index shares with :func:`minhash_lsh_pairs`."""
    banded = sketch.select(id_col, F.posexplode("_mh.bk").alias("band", "key"))
    return cap_bucket_rows(banded, [F.col("band"), F.col("key")], [F.col(id_col)], max_bucket)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array-set columns."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter.cast("double") / union


def ngram_jaccard(text_a: Column, text_b: Column, n: int = 3) -> Column:
    return jaccard(word_shingles(text_a, n), word_shingles(text_b, n))


def explode_bucket_pairs(buckets: DataFrame, members_col: str) -> DataFrame:
    """All (i < j) pairs from each bucket's member array, one ROW per
    pair with columns ``a`` and ``b`` — shared by every LSH candidate
    generator. Callers cap and sort the member array first
    (deterministic truncation).

    Shape: ``posexplode`` picks element i as ``a``; ``slice(members,
    i+2, size-i-1)`` + ``explode`` yields every LATER element as
    ``b``. Both Generate nodes and the slice are whole-stage codegen,
    where a nested-``transform``-``flatten`` expression runs
    interpreted per element (profiled ~25× slower on the simhash pair
    stage) — on a capped degenerate bucket that is the difference
    between a multi-second single-task stage and milliseconds (the
    post-groupBy stage is AQE-coalesced by BYTES, which cannot see
    the quadratic pair fan-out)."""
    m = F.col(members_col)
    return buckets.select(
        F.posexplode(m).alias("_i", "a"), m.alias("_m")
    ).select(
        "a",
        F.explode(
            F.slice(F.col("_m"), F.col("_i") + F.lit(2), F.size("_m") - F.col("_i") - F.lit(1))
        ).alias("b"),
    )


#: At or below this many bytes of text (and with no
#: ``signatures_path``), :func:`minhash_lsh_pairs` collects the
#: ``(id, text)`` checkpoint and runs MinHash, banding and verification
#: in numpy on the driver; above it, the same kernel runs as one Arrow
#: stage on the executors. Set just below the crossover measured on a
#: 4-vCPU box, ~14 MB (``minhash_lsh_pairs`` at threshold 0.8 plus a
#: checkpoint of its pairs, over perfbench's seed-7 curate docs at
#: four sizes; warm, min of 3 calls per path):
#:
#:   =======  =======  ======  ===========
#:   docs     text     driver  distributed
#:   =======  =======  ======  ===========
#:   3,364    0.7 MB   0.22 s  0.81 s
#:   33,640   6.9 MB   1.14 s  1.53 s
#:   78,492   16.2 MB  3.30 s  3.15 s
#:   100,920  20.9 MB  4.14 s  3.74 s
#:   =======  =======  ======  ===========
DRIVER_LSH_MAX_BYTES = 12 << 20


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int = 64,
    signatures_path: str | None = None,
    candidate_filter=None,
    persisted: list | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, verified exactly.

    Returns ``(id_a, id_b, jaccard_sim)`` with ``id_a < id_b``,
    ``jaccard_sim ≥ threshold`` (exact Jaccard of the two shingle-hash
    sets, see :func:`make_minhash_kernel`) rounded half-up to 6
    places. Rows with a null id or a null text pair with nothing.

    With ``num_hashes=64, bands=16`` (rows-per-band 4) the candidate
    probability for a pair at Jaccard s is ``1-(1-s^4)^16`` — ≈0.9997
    at s=0.7, ≈0.047 at s=0.2 — so verification work stays near-linear
    while recall at the threshold is effectively total.

    Buckets larger than ``max_bucket`` are truncated to their
    ``max_bucket`` lowest ids, bounding the quadratic pair blow-up of
    degenerate clusters.

    The ``(id, text)`` input is materialized once (an eager
    ``localCheckpoint``, not fault-tolerant) with an ``observe`` of its
    row count and text bytes. Then:

    * at most :data:`DRIVER_LSH_MAX_BYTES` of text and no
      ``signatures_path``: the checkpoint is read once as Arrow and
      :func:`_driver_lsh_pairs` does the rest in numpy; the result is
      a local frame. 2 jobs in all.
    * more: :func:`minhash_sketch` runs as one Arrow stage, its output
      materialized once (a ``localCheckpoint``, or written to
      ``signatures_path`` — a durable table for 10^12 rows, where
      block-cache persistence would evict or spill), then the band
      keys go through :func:`cap_bucket_rows` (the cap applies BEFORE
      aggregation, so the aggregation buffer is bounded too) → one
      groupBy → :func:`explode_bucket_pairs` → two verification joins
      against the shingle-hash sets.

    ``candidate_filter`` (optional): callable ``(id_a Column, id_b
    Column) -> boolean Column`` keeping a subset of the pairs (e.g.
    cross-side pairs in incremental dedup). The distributed path
    applies it before the verification joins; the driver path after
    verification, which is equivalent because verifying a pair reads
    only that pair.

    ``persisted`` (optional): a list the distributed path's sketch
    checkpoint is appended to, for the caller to ``session.release``
    once the pairs have been consumed. Without it the checkpoint
    outlives the call.

    ``stats`` (optional dict) receives ``path`` (``"driver"`` or
    ``"distributed"``), ``docs`` and ``text_bytes``, the observed
    input the path rule read.
    """
    from pyspark.sql import Observation

    from solrizer_spark.session import release

    obs = Observation()
    keyed = df.where(F.col(id_col).isNotNull())
    ck = keyed.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")).observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.coalesce(F.sum(F.octet_length("_text")), F.lit(0)).alias("text_bytes"),
    ).localCheckpoint()
    seen = obs.get
    driver = signatures_path is None and seen["text_bytes"] <= DRIVER_LSH_MAX_BYTES
    if stats is not None:
        stats.update(seen, path="driver" if driver else "distributed")
    if driver:
        pairs = _driver_lsh_pairs(
            ck, make_minhash_kernel(shingle_n, num_hashes, bands), bands, threshold, max_bucket
        )
        release(ck)
        if candidate_filter is not None:
            pairs = pairs.where(candidate_filter(F.col("id_a"), F.col("id_b")))
        return pairs

    # the kernel is the CPU-heavy map side: spread a checkpoint of few
    # partitions (a one-file scan, an AQE-coalesced shuffle) over the
    # cores
    cores = df.sparkSession.sparkContext.defaultParallelism
    src = ck if ck.rdd.getNumPartitions() >= cores else ck.repartition(cores)
    base = src.select("_id", minhash_sketch("_text", shingle_n, num_hashes, bands).alias("_mh"))
    if signatures_path is not None:
        base.write.mode("overwrite").parquet(signatures_path)
        base = df.sparkSession.read.parquet(signatures_path)
    else:
        # banding and both verification sides read the sketch, so it
        # is materialized first: a persist() would be read by neither
        # verification side, whose self-join copies of the Python UDF
        # do not match the cached plan
        base = base.localCheckpoint()
        if persisted is not None:
            persisted.append(base)
    release(ck)
    # only (_id, band, key) ride the banding/cap shuffle — the
    # shingle-hash sets re-join from the sketch at verification time;
    # the groupBy's collect_list holds at most max_bucket ids
    buckets = (
        _capped_bands(base, "_id", max_bucket)
        .groupBy("band", "key")
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    # pairs within bucket (i<j), dedup across bands
    pairs = (
        explode_bucket_pairs(buckets, "ids")
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )
    if candidate_filter is not None:
        pairs = pairs.where(candidate_filter(F.col("id_a"), F.col("id_b")))
    sh = base.select("_id", F.col("_mh.sh").alias("_sh"))
    return (
        pairs.join(sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "_sha"), "id_a")
        .join(sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "_shb"), "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("_sha"), F.col("_shb")))
        .where(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", F.round("jaccard_sim", 6).alias("jaccard_sim"))
    )


def _driver_lsh_pairs(ck: DataFrame, kernel, bands: int, threshold: float, max_bucket: int) -> DataFrame:
    """:func:`minhash_lsh_pairs` over a collected ``(_id, _text)``
    checkpoint, as a local frame with the ids' own type. The docs are
    sorted by id first (Arrow sorts strings by UTF-8 bytes, Spark's
    string order), so a doc's position is its id rank:

    * band: one lexsort of the ``(band, key, rank)`` entries, keeping
      the ``max_bucket`` lowest ranks per bucket (as
      :func:`cap_bucket_rows`); each kept member pairs with every
      later one, unique across bands;
    * verify: one lexsort of the pairs' concatenated shingle-hash sets
      by ``(pair, hash)`` counts each intersection. The Jaccard is
      rounded as Spark's ``round`` does: half-up, on the shortest
      decimal form of the double."""
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow.compute as pc

    table = ck.toArrow()
    by_id = pc.sort_indices(table["_id"])
    ids = table["_id"].take(by_id)
    mh = kernel(table["_text"].take(by_id).combine_chunks())
    n = len(ids)
    docs = np.flatnonzero(mh.is_valid().to_numpy(zero_copy_only=False))
    sh = mh.field("sh")
    sh_off, sh_vals = sh.offsets.to_numpy(), sh.values.to_numpy()

    member = np.repeat(docs, bands)
    band = np.tile(np.arange(bands), len(docs))
    key = mh.field("bk").values.to_numpy()
    order = np.lexsort((member, key, band))
    band, key, member = band[order], key[order], member[order]
    new = np.ones(len(member), dtype=bool)
    new[1:] = (band[1:] != band[:-1]) | (key[1:] != key[:-1])
    group = np.cumsum(new) - 1
    pos = np.arange(len(member)) - np.flatnonzero(new)[group]
    kept = pos < max_bucket
    member, group, pos = member[kept], group[kept], pos[kept]
    later = np.bincount(group)[group] - pos - 1
    first = np.repeat(np.arange(len(member)), later)
    code = np.unique(member[first] * n + member[first + 1 + _ranges(np.zeros_like(later), later)])
    lo, hi = code // n, code % n

    la, lb = np.diff(sh_off)[lo], np.diff(sh_off)[hi]
    pair = np.arange(len(code))
    v = sh_vals[np.concatenate([_ranges(sh_off[lo], la), _ranges(sh_off[hi], lb)])]
    p = np.concatenate([np.repeat(pair, la), np.repeat(pair, lb)])
    order = np.lexsort((v, p))
    v, p = v[order], p[order]
    same = (v[1:] == v[:-1]) & (p[1:] == p[:-1])
    inter = np.bincount(p[1:][same], minlength=len(code))
    sim = inter / (la + lb - inter)
    ok = np.flatnonzero(sim >= threshold)
    q = Decimal("0.000001")
    out = pa.table({
        "id_a": ids.take(lo[ok]),
        "id_b": ids.take(hi[ok]),
        "jaccard_sim": [float(Decimal(repr(s)).quantize(q, ROUND_HALF_UP)) for s in sim[ok].tolist()],
    })
    id_type = ck.schema["_id"].dataType.simpleString()
    return ck.sparkSession.createDataFrame(
        out, schema=f"id_a {id_type}, id_b {id_type}, jaccard_sim double"
    )


def _ranges(starts, lens):
    """Concatenated ``arange(s, s + n)`` for each ``(s, n)``."""
    ends = np.cumsum(lens)
    return np.repeat(starts - ends + lens, lens) + np.arange(ends[-1] if len(ends) else 0)


def make_simhash_udf(bits: int = 32):
    """Arrow SimHash — the :func:`simhash` kernel, integer-exact
    against the DuckDB oracle (no float parity burden: token hash =
    ``int(md5(tok)[:15], 16)``, the :func:`md5_hash60` value; balances
    are ±1 integer sums, the output is a bit-OR — every step exact).

    Vectorization: token md5s are memoized per Arrow batch (web-corpus
    vocabulary ≪ token count, so hashlib runs once per distinct
    token), then ONE ``(tokens × bits)`` numpy bit matrix and an
    ``add.reduceat`` over doc boundaries fold all balances — no
    per-token Python beyond the split and the memo lookup."""
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    shifts = np.arange(bits, dtype=np.int64)

    @pandas_udf(LongType())
    def simhash_udf(texts: pd.Series) -> pd.Series:
        if texts.empty:
            return pd.Series([], dtype="object")
        memo: dict[str, int] = {}

        def h60(tok: str) -> int:
            v = memo.get(tok)
            if v is None:
                v = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
                memo[tok] = v
            return v

        docs = [None if t is None else t.split(" ") for t in texts]
        lens = np.asarray([0 if d is None else len(d) for d in docs])
        flat = np.fromiter(
            (h60(tok) for d in docs if d is not None for tok in d),
            dtype=np.int64,
        )
        if len(flat):
            bitmat = ((flat[:, None] >> shifts) & 1).astype(np.int64)
            offsets = np.zeros(len(docs), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            # reduceat needs strictly-valid segment starts; null/empty
            # docs (len 0) are masked out afterwards
            nonzero = lens > 0
            balances = np.zeros((len(docs), bits), dtype=np.int64)
            if nonzero.any():
                seg = np.add.reduceat(2 * bitmat - 1, offsets[nonzero], axis=0)
                balances[nonzero] = seg
            out_vals = ((balances > 0).astype(np.int64) << shifts).sum(axis=1)
        else:
            out_vals = np.zeros(len(docs), dtype=np.int64)
        return pd.Series(
            [None if d is None else int(v) for d, v in zip(docs, out_vals)],
            dtype="object",
        )

    return simhash_udf


def simhash(text: Column | str, bits: int = 32) -> Column:
    """SimHash over single-space-split word tokens, as one map-side
    Arrow column (:func:`make_simhash_udf`).

    Token hash = 60-bit md5 prefix (DuckDB-reproducible). For each bit
    position b, a positive Σ_tokens (2·bit_b(h)−1) sets output bit b;
    the fingerprint is a BIGINT. Balance sums are integers, so the
    fold order can't change the fingerprint.

    NULL text yields a NULL fingerprint — null-text rows (parse
    failures) are deliberately EXCLUDED from near-dup pairing rather
    than collapsing into one degenerate all-nulls bucket (the exact
    pathological cluster the bucket caps exist to defuse).
    """
    col = F.col(text) if isinstance(text, str) else text
    return make_simhash_udf(bits)(col)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket: int = 256,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``,
    using the pigeonhole band trick: split the fingerprint into
    ``chunks`` ≥ ``max_hamming+1`` chunks — any pair within distance d
    shares at least one exact chunk — group by (chunk_idx, chunk
    value), pair within buckets, verify with bit_count.

    ``max_bucket`` caps degenerate buckets (every empty/boilerplate
    page shares one fingerprint — an uncapped bucket is an O(n²) pair
    explosion). The cap applies BEFORE aggregation
    (:func:`cap_bucket_rows`), so the aggregation buffer is bounded
    too. Within the cap the pigeonhole guarantee is total recall;
    truncated buckets trade recall for boundedness, like
    minhash_lsh_pairs."""
    from solrizer_spark.operators.repartition import ensure_min_parallelism

    assert chunks >= max_hamming + 1
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    # the md5-per-token fingerprint is the CPU-heavy map side — same
    # small-input parallelism guard as minhash_lsh_pairs
    base = ensure_min_parallelism(df).select(
        F.col(id_col).alias("_id"), simhash(text_col, bits).alias("_sh")
    )
    chunked = base.select(
        "_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("_sh", c * chunk_bits).bitwiseAND(F.lit(mask)).alias("val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    )
    capped = cap_bucket_rows(
        chunked, [F.col("ck.chunk"), F.col("ck.val")], [F.col("_id"), F.col("_sh")], max_bucket
    )
    buckets = (
        capped.groupBy("ck.chunk", "ck.val")
        .agg(F.array_sort(F.collect_list(F.struct("_id", "_sh"))).alias("members"))
        .where(F.size("members") > 1)
    )
    pairs = (
        explode_bucket_pairs(buckets, "members")
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs


def remove_repeated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 3,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide repeated-line removal (the C4 cleaning rule: drop
    every line that occurs ≥ ``min_count`` times across the corpus —
    cookie banners, nav crumbs, boilerplate footers — keeping NO
    copies). Returns ``(id, cleaned_text, n_lines_kept,
    n_lines_dropped)`` for every input doc; a doc whose lines were all
    boilerplate comes back with an empty ``cleaned_text``.

    Dataflow: posexplode lines → global line count (one map-side-
    combinable shuffle; the combiner collapses each partition's
    repeats, so heavy boilerplate lines cost one row per partition on
    the wire) → the count table is reduced to the HOT-LINE set (count
    ≥ min_count — the boilerplate vocabulary, small by construction:
    it shrinks as min_count grows) and broadcast-left-joined onto the
    exploded lines → per-doc reassembly in original order (shuffle
    keyed by doc id). Two shuffles on uniform keys, and — critically —
    no shuffle keyed on line text: a cookie banner occurring in most
    of 10^12 docs would make a line-keyed join the most skewed key
    imaginable, whereas the broadcast probe is per-row and skew-free.
    (If the hot-line set ever exceeds broadcast size, raise min_count
    or pre-filter candidate lines; the count aggregate itself stays
    map-side-combinable either way.)

    Rows with a NULL text column pass through with ``cleaned_text``
    null and zero counters (a failed-extraction row is not "all
    boilerplate" — it keeps its distinct shape)."""
    import re

    lines = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias("_idx", "_line"),
    )
    hot = (
        lines.groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_count)
        .select("_line", F.lit(True).alias("_hot"))
    )
    tagged = lines.join(F.broadcast(hot), "_line", "left").withColumn(
        "_keep", F.col("_hot").isNull()
    )
    per_doc = tagged.groupBy("_id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct(F.col("_idx"), F.col("_line")))
                    )
                ),
                lambda s: s["_line"],
            ),
        ).alias("cleaned_text"),
        F.sum(F.col("_keep").cast("long")).alias("n_lines_kept"),
        F.sum((~F.col("_keep")).cast("long")).alias("n_lines_dropped"),
    )
    # every input doc comes back: null-text docs re-attach with null
    # cleaned_text and zero counters
    all_ids = df.select(F.col(id_col).alias("_id"))
    return (
        all_ids.join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("cleaned_text"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0).cast("long")).alias("n_lines_kept"),
            F.coalesce(F.col("n_lines_dropped"), F.lit(0).cast("long")).alias("n_lines_dropped"),
        )
    )


#: Pair lists of fewer rows than this are labelled on the driver (one
#: ``toArrow`` of the pair checkpoint, numpy passes, a local frame);
#: the rest run the distributed :func:`_star_components`. At the bound
#: the driver holds 2^21 ids: ~130 MB of Arrow if they are 60-byte urls.
DRIVER_CC_MAX_PAIRS = 1 << 20


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair list — the step
    a real dedup pipeline runs AFTER pair generation: transitive
    closure groups pairs into clusters so one canonical doc per
    cluster survives. Returns ``(id, component)`` for every id that
    appears in ``pairs``, where ``component`` is the minimum id
    reachable (deterministic regardless of iteration order). Ids may
    be any orderable type — numeric doc ids or urls.

    The pair list is materialized once on entry (an eager
    ``localCheckpoint``; not fault-tolerant), so the caller's pair
    lineage runs exactly once, and an ``observe()`` on that
    checkpoint counts the pairs without a job of its own. Then:

    * fewer than :data:`DRIVER_CC_MAX_PAIRS` pairs: the checkpoint is
      read once as Arrow and labelled on the driver
      (:func:`_driver_labels`); the result is a local frame, so the
      caller's keep join broadcasts it. 2 jobs in all.
    * more: alternating large-star/small-star contraction
      (:func:`_star_components`, Kiveris et al., "Connected
      Components in MapReduce and Beyond", SoCC'14), O(log² n)
      rounds whatever the diameter, one checkpointed job per
      half-round.

    ``stats`` (optional dict) receives ``path`` (``"driver"`` or
    ``"star"``), ``pairs``, ``rounds`` (0 on the driver) and
    ``converged``. A star run that exhausts ``max_iterations`` still
    returns one row per id, with ``converged=False`` and a warning:
    a component still carrying split labels would keep several
    "canonicals" for one true cluster.
    """
    from pyspark.sql import Observation

    from solrizer_spark.session import release

    obs = Observation()
    pair_ck = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .observe(obs, F.count(F.lit(1)).alias("pairs"))
        .localCheckpoint()
    )
    n_pairs = obs.get["pairs"]
    if n_pairs < DRIVER_CC_MAX_PAIRS:
        path, rounds, converged = "driver", 0, True
        labels = _driver_components(pair_ck)
    else:
        path = "star"
        edges = pair_ck.unionByName(
            pair_ck.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct().persist()
        labels, converged, rounds = _star_components(edges, max_iterations)
        edges.unpersist()
    release(pair_ck)
    if stats is not None:
        stats.update(path=path, pairs=n_pairs, rounds=rounds, converged=converged)
    if not converged:
        import logging

        logging.getLogger(__name__).warning(
            "connected_components did not converge in %d star rounds; "
            "labels of the largest components are incomplete — raise "
            "max_iterations",
            max_iterations,
        )
    return labels


def _driver_components(pair_ck: DataFrame) -> DataFrame:
    """``(id, component)`` for a collected pair list, as a local frame
    with the ids' own type. The ids are encoded as their ranks in
    sorted order (Arrow sorts strings by UTF-8 bytes, Spark's string
    order), so the minimum code of a component is its minimum id."""
    import pyarrow.compute as pc

    table = pair_ck.toArrow()
    ends = pa.chunked_array(
        table["src"].chunks + table["dst"].chunks, table.schema.field("src").type
    )
    ids = pc.unique(ends)
    ids = ids.take(pc.sort_indices(ids))
    codes = pc.index_in(ends, value_set=ids).to_numpy()
    n = table.num_rows
    root = _driver_labels(codes[:n], codes[n:], len(ids))[0]
    id_type = pair_ck.schema["src"].dataType.simpleString()
    out = pa.table({"id": ids, "component": ids.take(root)})
    return pair_ck.sparkSession.createDataFrame(out, schema=f"id {id_type}, component {id_type}")


def _driver_labels(src, dst, n: int):
    """Component root of each of ``n`` nodes, given integer edge
    endpoints: the smallest node of its component. Returns
    ``(root, passes)``.

    Alternates two vectorized passes until no edge spans two roots:
    *hook* points each root at the smallest root across its edges,
    *jump* halves every path (``parent = parent[parent]``) until each
    node points at its root. A parent is never larger than its node,
    so no cycle forms; every tree with an edge to another tree merges
    each round, so there are O(log n) rounds of O(log n) jumps."""
    parent = np.arange(n)
    passes = 0
    while True:
        ru, rv = parent[src], parent[dst]
        split = ru != rv
        if not split.any():
            return parent, passes
        np.minimum.at(
            parent, np.maximum(ru, rv)[split], np.minimum(ru, rv)[split]
        )
        passes += 1
        while True:
            grand = parent[parent]
            passes += 1
            if np.array_equal(grand, parent):
                break
            parent = grand


def _star_components(edges: DataFrame, max_iterations: int):
    """Alternating large-star/small-star rounds (Kiveris et al.,
    SoCC'14) over a symmetric edge list, until the edge set is stable.

    * large-star: every node connects its strictly-larger neighbors to
      the minimum of its closed neighborhood;
    * small-star: every node connects its not-larger neighbors and
      itself to that minimum.

    Each half-round is one groupBy shuffle + one broadcast-free join,
    and the edge set only shrinks toward a star per component, so the
    round count is O(log² n) independent of graph diameter (min-label
    propagation needs O(diameter) rounds). Works for any orderable id
    type (numeric or url).

    Returns ``(labels, converged, rounds)`` with labels in the
    ``(id, component)`` shape of :func:`connected_components`.
    """
    from pyspark.sql import Observation

    from solrizer_spark.session import release

    # orient each undirected edge once; keep both directions available
    # per round via the symmetric frame
    cur = edges.where(F.col("src") != F.col("dst")).localCheckpoint()
    prev_sum = None
    converged = False
    rounds = 0
    for rounds in range(1, max_iterations + 1):
        # -- large-star ------------------------------------------------
        sym = cur.unionByName(cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
        mins = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select("src", F.least(F.col("_mn"), F.col("src")).alias("m"))
        )
        large = (
            sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        # -- small-star ------------------------------------------------
        oriented = large.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        mins2 = oriented.groupBy("src").agg(F.min("dst").alias("m"))
        obs = Observation()
        small = (
            oriented.join(mins2, "src")
            .select(F.col("dst").alias("a"), F.col("m").alias("b"))
            .unionByName(mins2.select(F.col("src").alias("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .observe(
                obs,
                # per-row hash of the (src,dst) pair; summing int64
                # hashes directly could overflow under ANSI, so cast
                # each row's hash to decimal first
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("label_sum"),
            )
            .localCheckpoint()
        )
        new_sum = obs.get["label_sum"]
        release(large)
        release(cur)
        cur = small
        if new_sum == prev_sum:  # both None ⇔ empty edge set: converged
            converged = True
            break
        prev_sum = new_sum
    # one row per node id that appeared in pairs — including nodes
    # whose only edge was a self-pair (dropped from `cur` up front)
    # and, on non-convergence, nodes still carrying several outgoing
    # edges (take the min: labels stay one-row-per-id, possibly
    # incomplete — which the caller surfaces via converged=False).
    # At convergence every non-root has exactly one edge (to its
    # root), so this is exactly "star edges + roots point at self".
    nodes = edges.select(F.col("src").alias("id")).distinct()
    comp = cur.groupBy("src").agg(F.min("dst").alias("_comp"))
    labels = (
        nodes.join(comp, nodes.id == comp.src, "left")
        .select("id", F.coalesce(F.col("_comp"), F.col("id")).alias("component"))
        .localCheckpoint()
    )
    release(cur)
    return labels, converged, rounds


def dedup_keep_canonical(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every near-duplicate except each cluster's canonical
    (minimum-id) member: left-anti join the corpus against the
    non-canonical ids. Docs in no cluster pass through untouched."""
    losers = components.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_against_base(
    new_df: DataFrame,
    base_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float | None = 0.8,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 64,
    persisted: list | None = None,
) -> DataFrame:
    """Incremental dedup: the rows of ``new_df`` (a crawl increment)
    that duplicate nothing in ``base_df`` (the existing corpus) —
    the daily-increment production shape, where re-deduplicating the
    full union would redo 10^12 rows of work to admit 10^9.

    Two stages: exact (text-hash LEFT ANTI join — nulls pass, a null
    can't duplicate anything) and, when ``threshold`` is not None,
    near (MinHash+LSH): both sides get side-tagged string keys
    (``n:<id>`` / ``b:<id>`` — any id type, overlapping id spaces
    fine), run through the oracle-tested :func:`minhash_lsh_pairs`
    with a pre-verification filter keeping only CROSS-side candidate
    pairs, and a flagged cross pair drops its new row. New-vs-new duplicates are intentionally
    kept — dedup within the increment composes separately (job.py
    --dedup), and dropping them here would make the result depend on
    increment batching.

    Scale: the exact stage is one hash anti-join; the near stage
    reuses the capped, payload-pruned LSH machinery, with base×base
    candidates discarded BEFORE the exact-Jaccard verification join.
    Base sketches are recomputed per call here — for
    repeated increments against the same base, build the durable
    index ONCE with :func:`write_lsh_index` and use
    :func:`dedup_against_index` (equivalent results, pinned by
    test).

    ``persisted`` (optional): passed to :func:`minhash_lsh_pairs`, which
    appends its sketch checkpoint for the caller to
    ``session.release`` once the result has been consumed."""
    text_hash = F.md5(F.col(text_col))
    base_hashes = (
        base_df.where(F.col(text_col).isNotNull())
        .select(text_hash.alias("__h"))
        .distinct()
    )
    survivors = new_df.join(
        base_hashes, F.md5(new_df[text_col]) == F.col("__h"), "left_anti"
    )
    if threshold is None:
        return survivors

    # side-tagged STRING keys, not id arithmetic: works for any id
    # type (curate's default id is the url string; numeric remaps
    # crash string ids under ANSI, overflow int32 ids, and lose
    # precision above 2^52 through double division — review findings)
    key_new = F.concat(F.lit("n:"), F.col(id_col).cast("string"))
    key_base = F.concat(F.lit("b:"), F.col(id_col).cast("string"))
    tagged = (
        survivors.where(F.col(text_col).isNotNull())
        .select(key_new.alias("__k"), text_col)
        .unionByName(
            base_df.where(F.col(text_col).isNotNull())
            .select(key_base.alias("__k"), text_col)
        )
    )
    side = lambda c: F.substring(c, 1, 1)  # noqa: E731
    pairs = minhash_lsh_pairs(
        tagged,
        id_col="__k",
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket=max_bucket,
        persisted=persisted,
        # drop same-side candidates BEFORE the verification join: the
        # base x base population dominates and is not wanted here
        candidate_filter=lambda a, b: side(a) != side(b),
    )
    flagged_keys = pairs.select(
        F.when(F.col("id_a").startswith("n:"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("__k")
    ).distinct()
    return (
        survivors.withColumn("__k", key_new)
        .join(flagged_keys, "__k", "left_anti")
        .drop("__k")
    )


# --------------------------------------------------------------------------
# durable LSH index: cross-increment near-dup without re-signaturing
# --------------------------------------------------------------------------

def write_lsh_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 64,
) -> None:
    """Materialize the base corpus' dedup index ONCE:
    ``{path}/signatures`` (id, text_hash, shingle-hash set, band keys),
    ``{path}/bands`` (band, key, id — bucket membership capped at
    write time), and ``{path}/params`` (single row, with the kernel's
    :data:`LSH_KEY_FORMAT`; read back to reject mismatched query
    parameters and indexes of another key format). This is the
    cross-increment amortization ``dedup_against_base`` documents as
    its limit: sketching the 10^12-row base happens here once, and
    every increment afterwards only sketches ITSELF
    (``dedup_against_index``)."""
    spark = df.sparkSession
    df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("string").alias("_id"),
        F.md5(F.col(text_col)).alias("_th"),
        minhash_sketch(text_col, shingle_n, num_hashes, bands).alias("_mh"),
    ).write.mode("overwrite").parquet(f"{path}/signatures")
    sigs = spark.read.parquet(f"{path}/signatures")  # durable, re-read
    _capped_bands(sigs, "_id", max_bucket).write.mode("overwrite").parquet(f"{path}/bands")
    from solrizer_spark.session import write_local_parquet

    # driver-direct write — zero Spark jobs for the one-row params table
    write_local_parquet(
        [(shingle_n, num_hashes, bands, max_bucket, LSH_KEY_FORMAT)],
        "shingle_n int, num_hashes int, bands int, max_bucket int, key_format string",
        f"{path}/params",
    )


def dedup_against_index(
    new_df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float | None = 0.8,
    persisted: list | None = None,
) -> DataFrame:
    """Incremental dedup against a :func:`write_lsh_index` index: the
    increment is the ONLY side that gets sketched; exact dups drop via
    the stored text hashes, near dups via a band join against the
    stored buckets + exact-Jaccard verification against the stored
    shingle-hash sets. Same keep semantics as
    :func:`dedup_against_base` (new-vs-new dups kept); results are
    identical on non-degenerate buckets (pinned by test). Where the
    ``max_bucket`` cap binds they can differ in the increment's
    favor: the symmetric path may evict a tagged row from an
    oversized bucket entirely, while here the increment row always
    compares against the bucket's stored members (strictly ≥ recall);
    both sides cap their own bucket membership.

    Raises ``ValueError`` for an index whose ``key_format`` is missing
    or is not :data:`LSH_KEY_FORMAT`: its band keys and shingle hashes
    come from another kernel and would silently match nothing.

    ``persisted`` (optional): a list the increment's sketch cache is
    appended to, for the caller to ``session.release`` once the result
    has been consumed. Without it the cache outlives the call."""
    spark = new_df.sparkSession
    p = spark.read.parquet(f"{index_path}/params").collect()[0].asDict()
    if p.get("key_format") != LSH_KEY_FORMAT:
        raise ValueError(
            f"LSH index {index_path} has key format {p.get('key_format')!r}, "
            f"not {LSH_KEY_FORMAT!r}: rebuild it with tools/build_lsh_index.py"
        )
    sigs = spark.read.parquet(f"{index_path}/signatures")

    survivors = new_df.join(
        sigs.select(F.col("_th").alias("__h")).distinct(),
        F.md5(new_df[text_col]) == F.col("__h"),
        "left_anti",
    )
    if threshold is None:
        return survivors

    inc = survivors.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("string").alias("_nid"),
        minhash_sketch(text_col, p["shingle_n"], p["num_hashes"], p["bands"]).alias("_mh"),
    )
    # feeds banding AND verification; released by the caller through
    # ``persisted``
    inc = inc.persist()
    if persisted is not None:
        persisted.append(inc)
    # cap the INCREMENT side of each bucket too (stored max_bucket):
    # a degenerate increment bucket (10^6 boilerplate copies on one
    # band key) would otherwise fan out against the stored members
    # unbounded — same guard as the symmetric path
    inc_bands = _capped_bands(inc, "_nid", p["max_bucket"])
    base_bands = spark.read.parquet(f"{index_path}/bands")
    candidates = (
        inc_bands.join(base_bands, ["band", "key"])
        .select("_nid", "_id")
        .distinct()
    )
    flagged = (
        candidates.join(inc.select("_nid", F.col("_mh.sh").alias("_nsh")), "_nid")
        .join(sigs.select("_id", F.col("_mh.sh").alias("_sh")), "_id")
        .where(jaccard(F.col("_nsh"), F.col("_sh")) >= threshold)
        .select(F.col("_nid").alias("__k"))
        .distinct()
    )
    return (
        survivors.withColumn("__k", F.col(id_col).cast("string"))
        .join(flagged, "__k", "left_anti")
        .drop("__k")
    )


# ---------------------------------------------------------------------------
# Exact substring (duplicate-span) dedup — Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better". The published tool builds a
# corpus-wide suffix array and removes every >=50-token substring that
# occurs twice; a suffix array is a single-machine data structure, so the
# Spark-first form fixes the span length and detects duplicates exactly at
# that granularity: every duplicated ``span_tokens``-token window is found
# (a duplicated substring of length >= span_tokens always contains at least
# one duplicated window, so detection recall at the window size is exact).
# No reference analog (solrizer is one record per request).
# ---------------------------------------------------------------------------


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Every occurrence of a corpus-duplicated ``span_tokens``-token
    window: ``(id, span_start, span_hash, n_occurrences, is_keeper)``
    with ``span_start`` 1-based in whitespace tokens and ``is_keeper``
    true on the single globally-first occurrence (lowest
    ``(id, span_start)``) — the copy :func:`remove_duplicate_spans`
    retains under its ``keep='first'`` policy.

    Scale dataflow: span hashing is map-side (one 60-bit
    :func:`md5_hash60` per window; DuckDB replicates the hash exactly,
    so oracles stay value-level). The global count + keeper aggregate
    is map-side combinable (``count`` + ``min(struct)``), so a
    boilerplate span occurring in 10^8 documents costs one row per
    partition on the wire, never a skewed reduce group. The only
    span-keyed shuffle is the join of occurrences back onto the
    (filtered, count >= min_count) duplicate table — a hot span IS a
    skewed probe key there; AQE's skew-join split handles it because
    the build side is one row per hash. Everything downstream is
    keyed by document id (uniform by construction)."""
    toks = F.split(F.col(text_col), " ")
    k = F.size(toks) - (span_tokens - 1)
    spans = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.when(
                    k <= 0,
                    # sequence(1, k<=0) would count DOWN; typed empty
                    F.array().cast("array<struct<start:int,h:bigint>>"),
                ).otherwise(
                    F.transform(
                        F.sequence(F.lit(1), k),
                        lambda i: F.struct(
                            i.alias("start"),
                            md5_hash60(
                                F.array_join(F.slice(toks, i, span_tokens), " ")
                            ).alias("h"),
                        ),
                    )
                )
            ).alias("sp"),
        )
        .select("_id", F.col("sp.start").alias("span_start"), F.col("sp.h").alias("span_hash"))
    )
    dups = (
        spans.groupBy("span_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.struct(F.col("_id"), F.col("span_start"))).alias("_keeper"),
        )
        .where(F.col("n_occurrences") >= min_count)
    )
    return spans.join(dups, "span_hash").select(
        F.col("_id").alias(id_col),
        "span_start",
        "span_hash",
        "n_occurrences",
        (
            (F.col("_id") == F.col("_keeper._id"))
            & (F.col("span_start") == F.col("_keeper.span_start"))
        ).alias("is_keeper"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 50,
    min_count: int = 2,
    keep: str = "first",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Drop every token covered by a corpus-duplicated
    ``span_tokens``-token window, keeping the globally-first occurrence
    of each span when ``keep='first'`` (``keep='none'`` removes all
    copies, the C4-line-rule analog). Returns every input row as
    ``(id, cleaned_text, n_tokens_kept, n_tokens_dropped)``; null-text
    rows pass through null with zero counters.

    Removal stays relational (the :func:`remove_repeated_lines`
    shape): flagged spans explode to covered token positions, distinct
    per doc, anti-joined against the posexploded token relation, and
    the survivors reassemble under ``array_sort(collect_list(struct))``
    — every removal-side shuffle is keyed by document id. Overlapping
    flagged spans coalesce via the distinct, so a fully-boilerplate
    document costs at most ``span_tokens x`` its token count
    transiently in the covered-position explode, linear in span
    length, never quadratic in document length.

    ``spans``: a precomputed (ideally persisted)
    :func:`duplicate_spans` relation over the SAME ``df`` and
    parameters. A caller that also reports detection stats would
    otherwise pay the span hashing + count shuffle twice — Spark
    does not reuse identical uncached subplans across two sinks."""
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    flagged = (
        spans
        if spans is not None
        else duplicate_spans(df, id_col, text_col, span_tokens, min_count)
    )
    if keep == "first":
        flagged = flagged.where(~F.col("is_keeper"))
    covered = flagged.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_start") + (span_tokens - 1))
        ).alias("_idx"),
    ).distinct()
    tokens = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("_pos0", "_tok"),
    ).select("_id", (F.col("_pos0") + 1).alias("_idx"), "_tok")
    kept = tokens.join(covered, ["_id", "_idx"], "left_anti")
    n_toks = tokens.groupBy("_id").agg(F.count(F.lit(1)).alias("_n_total"))
    per_doc = (
        kept.groupBy("_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_idx", "_tok"))),
                    lambda s: s["_tok"],
                ),
            ).alias("cleaned_text"),
            F.count(F.lit(1)).alias("n_tokens_kept"),
        )
    )
    with_text = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"))
        .join(per_doc, "_id", "left")
        .join(n_toks, "_id", "left")
        .select(
            "_id",
            # a doc whose every token sat in duplicated spans comes
            # back empty, not null (it had text; it was all boilerplate)
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
            F.coalesce(F.col("n_tokens_kept"), F.lit(0).cast("long")).alias(
                "n_tokens_kept"
            ),
            (
                F.col("_n_total")
                - F.coalesce(F.col("n_tokens_kept"), F.lit(0).cast("long"))
            ).alias("n_tokens_dropped"),
        )
    )
    null_text = df.where(F.col(text_col).isNull()).select(
        F.col(id_col).alias("_id"),
        F.lit(None).cast("string").alias("cleaned_text"),
        F.lit(0).cast("long").alias("n_tokens_kept"),
        F.lit(0).cast("long").alias("n_tokens_dropped"),
    )
    return with_text.unionByName(null_text).withColumnRenamed("_id", id_col)
