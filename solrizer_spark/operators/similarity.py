"""Similarity search over embedding columns (``array<float>``).

Training-data operators (no reference analog):

* :func:`cosine`               dot/norm as JVM higher-order functions
* :func:`brute_force_topk`     exact top-k vs a query vector — the
                               correctness baseline; TakeOrdered (no
                               full sort shuffle)
* :func:`hyperplane_bucket`    signed-random-projection LSH bucket id,
                               derived from md5 parities so a SQL
                               oracle reproduces it exactly
* :func:`lsh_topk`             bucketed ANN: probe only the query's
                               bucket (scale path)
* :func:`embedding_near_dup_pairs`  banded hyperplane LSH candidate
                               pairs + exact cosine verification

Scale design: bucket ids are map-side expressions; candidate
generation is a groupBy on (table, bucket); exact cosine runs only on
candidates. For 10^12 vectors the bucket table is the shuffle unit —
no all-pairs join anywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Zero-norm-safe cosine: a zero vector (failed/padded embedding)
    scores 0.0 instead of dividing by zero — Spark 4's default ANSI
    mode turns the division into a job-killing
    SparkArithmeticException, and with ANSI off the NaN would rank
    above every real similarity."""
    denom = norm(a) * norm(b)
    return F.when(denom != 0.0, dot(a, b) / denom).otherwise(F.lit(0.0))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector. The
    ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject —
    per-partition heaps + driver merge, no global sort shuffle.
    Scoring is the Arrow numpy kernel
    (:func:`make_cosine_to_query_udf`: the query norm is computed once
    in Python, the per-row folds match the SQL oracle bit-for-bit)."""
    cos = make_cosine_to_query_udf(query_vec)(F.col(vec_col))
    out = df.select(
        F.col(id_col),
        F.round(cos, 6).alias("cos_sim"),
    )
    if exclude_id is not None:
        out = out.where(F.col(id_col) != exclude_id)
    return out.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def _hyperplane_sign(j: int, d: int) -> int:
    """Deterministic ±1 from public md5 — reproducible in SQL:
    ``ascii(substr(md5(j||'_'||d),1,1)) % 2``."""
    import hashlib

    h = hashlib.md5(f"{j}_{d}".encode()).hexdigest()
    return 1 if ord(h[0]) % 2 == 0 else -1


def hyperplane_bits(vec: Column, n_bits: int, dims: int, offset: int = 0) -> Column:
    """LSH bit array: bit j = 1 iff Σ_d sign(j+offset,d)·vec[d] > 0.

    The hyperplane matrix is a literal array-of-arrays and the
    projection a runtime ``zip_with``+``aggregate`` left fold — the
    same IEEE-double sum order as an unrolled ``t0+t1+…`` chain (so
    SQL oracles stay bit-identical), but with an O(1)-size expression
    tree instead of O(n_bits·dims) (a 64×64 unrolled tree forces
    codegen fallback and ~30× slower evaluation)."""
    planes = F.array(
        *[
            F.array(*[F.lit(float(_hyperplane_sign(j + offset, d))) for d in range(dims)])
            for j in range(n_bits)
        ]
    )
    return F.transform(
        planes,
        lambda w: F.when(dot(vec, w) > 0, F.lit(1)).otherwise(F.lit(0)),
    )


def hyperplane_bucket(vec: Column, n_bits: int, dims: int, offset: int = 0) -> Column:
    """Bucket id: the bit array packed into a BIGINT."""
    bits = hyperplane_bits(vec, n_bits, dims, offset)
    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b.cast("long")
    )


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 1,
) -> DataFrame:
    """Approximate top-k: exact cosine within the query's hyperplane
    bucket(s) only. At 10^12 scale the bucketed table is precomputed
    and partitioned by bucket id, so a probe touches
    ~bands/2^n_bits of data.

    ``bands > 1`` is the multiband probe (the
    :func:`embedding_near_dup_pairs` banding reused for search): a
    row is a candidate if it collides with the query in ANY band's
    bucket, which repairs the single-band recall cliff for vectors
    that land just across one hyperplane (mean recall@10 0.87 → 0.99, min 0.5 → 0.9,
    on the planted-cluster harness at bands=4; see
    BENCH/ann_recall_r5.json). Each band uses disjoint hyperplanes
    (offset = band·n_bits), and all band buckets are plan-time
    literals — the scan stays a single pass with an OR-of-equalities
    filter (at scale: one stored bucket column per band, nprobe-style
    partition pruning).

    All band keys come from one Arrow batch pass
    (:func:`make_band_keys_udf`); the probe filter is an OR of integer
    equalities against plan-time query buckets."""
    dims = len(query_vec)

    def q_bucket_for(offset: int) -> int:
        bucket = 0
        for j in range(n_bits):
            proj = sum(
                _hyperplane_sign(j + offset, d) * query_vec[d] for d in range(dims)
            )
            bucket = bucket * 2 + (1 if proj > 0 else 0)
        return bucket

    withk = df.withColumn(
        "_bkeys", make_band_keys_udf(bands, n_bits, dims)(F.col(vec_col))
    )
    cond = None
    for band in range(bands):
        this = F.element_at(F.col("_bkeys"), band + 1) == q_bucket_for(
            band * n_bits
        )
        cond = this if cond is None else (cond | this)
    return brute_force_topk(
        withk.where(cond).drop("_bkeys"), query_vec, k, id_col, vec_col
    )


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: partition vectors into inverted lists by
    nearest centroid, probe only the ``nprobe`` cells nearest the
    query, exact cosine inside them. The scale path to LSH's
    alternative: at 10^12 vectors the cell assignment is a stored
    column (Iceberg partition) and a probe scans nprobe/n_cells of
    the data. Assignment and scoring are Arrow kernels
    (:func:`make_assign_cell_sim_udf`, :func:`brute_force_topk`)."""

    def cos(a: list[float], b: list[float]) -> float:
        import math

        dot_ = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot_ / (na * nb) if na and nb else 0.0

    order = sorted(range(len(centroids)), key=lambda i: (-cos(query_vec, centroids[i]), i))
    probe_cells = order[:nprobe]
    cell = make_assign_cell_sim_udf(centroids)(F.col(vec_col))["cell"]
    cells = df.withColumn("_cell", cell)
    return brute_force_topk(
        cells.where(F.col("_cell").isin(probe_cells)),
        query_vec, k, id_col, vec_col,
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    band_bits: int = 8,
    bands: int = 8,
    max_bucket: int = 64,
    persist_base: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded hyperplane LSH →
    candidate pairs → exact cosine ≥ threshold. With 8 bands × 8 bits,
    a pair at cos 0.999 collides in ≥1 band with P ≈ 1−3e-8; random
    pairs (cos≈0) collide with P ≈ 8/256.

    The two flop-heavy stages — the bands·bits·dims banding
    projections and the per-candidate-pair exact cosine — run through
    Arrow numpy kernels (:func:`make_band_keys_udf`,
    :func:`make_cosine_pair_udf`)."""
    from solrizer_spark.operators.repartition import ensure_min_parallelism

    # hyperplane-projection banding over 64-dim vectors is the
    # CPU-heavy map side — small-input parallelism guard (no-op when
    # the scan has >= cores splits)
    base = ensure_min_parallelism(df).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    if persist_base:
        # feeds banding + both verification-join sides
        base = base.persist()
    # banding carries ONLY (_id, band-key): the vector must not ride
    # through the cap window's shuffle+sort (verification re-joins it
    # from the persisted base) — with it, 8 bands × every 64-float
    # vector crosses the wire (measured ~2× on this query)
    # one Arrow batch pass computes all band keys; posexplode's
    # position IS the band index (the make_band_keys_udf contract)
    banded = base.select(
        "_id",
        F.posexplode(
            make_band_keys_udf(bands, band_bits, dims)(F.col("_v"))
        ).alias("band", "key"),
    )
    from solrizer_spark.operators.dedup import (
        cap_bucket_rows,
        explode_bucket_pairs,
    )

    # pre-aggregation cap: bounds the collect_list buffer, not just the
    # pair fan-out (see dedup.cap_bucket_rows)
    capped = cap_bucket_rows(
        banded, [F.col("band"), F.col("key")], [F.col("_id")], max_bucket
    )
    buckets = (
        capped.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )

    pairs = (
        explode_bucket_pairs(buckets, "ids")
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )
    vecs = base
    pair_cos = make_cosine_pair_udf(dims)(F.col("_va"), F.col("_vb"))
    return (
        pairs.join(vecs.withColumnRenamed("_id", "id_a").withColumnRenamed("_v", "_va"), "id_a")
        .join(vecs.withColumnRenamed("_id", "id_b").withColumnRenamed("_v", "_vb"), "id_b")
        .withColumn("cos_sim", F.round(pair_cos, 6))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def assign_ivf_cell_sim(vec: Column, centroids: list[list[float]]) -> Column:
    """``struct(cell, sim)``: nearest centroid (highest cosine, ties
    → LOWEST cell) plus the winning cosine.

    Implemented as array-argmax — ``array_position(sims,
    array_max(sims))`` finds the FIRST maximal element, i.e. the
    lowest index on exact ties, matching the previous
    strictly-greater when-chain fold. The when-chain form referenced
    ``best_sim`` twice per step, DOUBLING the expression tree per
    centroid: O(2^k) nodes — fine at k=4, a planner/codegen
    OutOfMemoryError by k=16 (hit training 16 IVF cells over 20k
    vectors). The array form is O(k·dims) and keeps bit-identical
    cosines (same left-fold ``cosine`` subexpressions), so the
    DuckDB oracle's ``ORDER BY cs DESC, cell ASC`` parity is
    unchanged.

    Literal-side norms are evaluated in PYTHON (same left-assoc
    square-sum fold → bit-identical doubles) and ``norm(vec)`` is a
    single shared subexpression instead of one per centroid —
    Catalyst does not constant-fold or CSE aggregates over literal
    arrays inside higher-order functions, so the inline-``cosine``
    form re-ran k+1 norm folds per row (measured 3.4× slower at
    k=32 over 100k vectors)."""
    import math

    nv = norm(vec)
    sims = F.array(
        *[
            F.when(
                nv * F.lit(math.sqrt(sum(x * x for x in c))) != 0.0,
                dot(vec, F.array(*[F.lit(float(v)) for v in c]))
                / (nv * F.lit(math.sqrt(sum(x * x for x in c)))),
            ).otherwise(F.lit(0.0))
            for c in centroids
        ]
    )
    best = F.array_max(sims)
    cell = (F.array_position(sims, best) - 1).cast("int")
    return F.struct(cell.alias("cell"), best.alias("sim"))


def kmeans_fit(
    df: DataFrame,
    k: int = 4,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Distributed spherical k-means (Lloyd's) — trains the IVF
    centroids :func:`ivf_topk` / :func:`assign_ivf_cell_sim` consume,
    closing the "centroids come from somewhere" seam in-engine.

    Scale shape: up to 4096 cells, each round is ONE mapInPandas
    fold (:func:`_make_kmeans_stats_fold`: the
    :func:`make_assign_cell_sim_udf` assignment arithmetic plus
    per-cell sums), yielding one ``k × dims`` row per partition —
    corpus size never reaches the driver. Past 4096 cells assignment
    is the broadcast join :func:`assign_cells_join` and the update is
    posexplode → groupBy(cell, pos) partial-aggregated sums, so the
    shuffle carries at most ``partitions × k × dims`` rows. Init is
    deterministic: the ``k`` vectors with the smallest
    ``xxhash64(id)`` (total order, tie-broken by id).

    Iterative → not SQL-expressible; the oracle pattern is the same
    as BPE (``__spark_entry__.q_kmeans_clusters``): centroids are
    persisted as a side table and DuckDB re-derives the ASSIGNMENT
    from the identical persisted doubles. Centroid values themselves
    are deterministic up to float-sum partition order (documented;
    the assignment check is exact given the persisted values).

    Empty cells keep their previous centroid. Centroids are
    L2-normalized each round (spherical k-means: the mean direction
    is the cosine-optimal prototype).

    Iteration hygiene: Lloyd's runs ``1 + n_iter`` actions over
    ``df``; an expensive upstream plan would re-evaluate every round.
    The input is therefore persisted here for the duration of
    training (and unpersisted after) unless the caller already
    persisted it — at 10^9 vectors, re-running a parse/UDF chain
    ``n_iter`` times is a real cost."""
    from pyspark import StorageLevel

    already = df.storageLevel.useMemory or df.storageLevel.useDisk
    if not already:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _kmeans_fit_loop(df, k, n_iter, id_col, vec_col)
    finally:
        if not already:
            df.unpersist()


def _kmeans_fit_loop(
    df: DataFrame, k: int, n_iter: int, id_col: str, vec_col: str
) -> list[list[float]]:
    import math

    seeds = (
        df.select(F.col(vec_col).alias("_v"), F.col(id_col).alias("_id"))
        .orderBy(F.xxhash64(F.col("_id").cast("string")), F.col("_id"))
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(f"need at least k={k} rows, got {len(seeds)}")

    def l2(v: list[float]) -> list[float]:
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v] if n else list(v)

    cents = [l2([float(x) for x in r["_v"]]) for r in seeds]
    dims = len(cents[0])
    for _ in range(n_iter):
        if k <= 4096:
            # Arrow numpy assignment fused with the update stats
            # (round 6): ONE mapInPandas stage per round yields a
            # single (k·dims sums) row per partition — no posexplode/
            # groupBy shuffle, no second scheduled job. Assignment
            # arithmetic is the make_assign_cell_sim_udf fold
            # verbatim; the kernel ships k·dims centroid doubles in
            # the closure (≤2 MB at this bound — past it the
            # broadcast-join path below stays the large-k shape).
            import numpy as np

            parts = df.select(F.col(vec_col).alias("_v")).mapInPandas(
                _make_kmeans_stats_fold(cents, k, dims), "sums binary"
            ).collect()
            tot = np.zeros((k, dims), dtype=np.float64)
            for r in parts:
                tot += np.frombuffer(r["sums"], dtype=np.float64).reshape(k, dims)
            cents = [
                l2([float(x) for x in tot[c]]) if tot[c].any() else cents[c]
                for c in range(k)
            ]
            continue
        # large-k path: broadcast-join argmax (a 10^5-cell plan
        # cannot carry 10^7 literals); keep_vec avoids a second
        # join for the update below
        assigned = assign_cells_join(
            df, cents, id_col=id_col, vec_col=vec_col, keep_vec=True
        ).select(F.col("cell").alias("_cell"), F.col(vec_col).alias("_v"))
        stats = (
            assigned.select("_cell", F.posexplode("_v").alias("pos", "x"))
            .groupBy("_cell", "pos")
            .agg(F.sum(F.col("x").cast("double")).alias("s"))
            .collect()
        )
        sums: dict[int, list[float]] = {}
        for r in stats:
            sums.setdefault(r["_cell"], [0.0] * len(cents[0]))[r["pos"]] = r["s"]
        cents = [
            l2(sums[c]) if c in sums and any(sums[c]) else cents[c]
            for c in range(k)
        ]
    return cents


def assign_cells_join(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Join-based IVF assignment — the large-``k`` path.

    :func:`assign_ivf_cell_sim` bakes centroids into the plan as
    literals: O(k·dims) expression nodes, ideal up to a few hundred
    cells but not at production IVF scale (k ≈ √N → 10^5-10^6 cells
    at 10^12 vectors, where a 10^7-literal plan is impossible). This
    form broadcasts the ``(cell, centroid)`` table, computes one
    cosine per (vector, cell) pair, and argmaxes per vector with a
    single struct MAX aggregate — ``max(struct(sim, -cell, ...))``
    orders by sim then LOWEST cell, the exact tie-break of the
    literal path (pinned by an equivalence test). Map-side partial
    aggregation keeps the shuffle at one row per (vector, partition),
    and no window/sort is involved.

    Returns ``(id, cell, sim)`` — plus the vector when ``keep_vec``
    (the k-means update needs it without a second join)."""
    from solrizer_spark.session import local_df

    spark = df.sparkSession
    rows = [(c, [float(x) for x in v]) for c, v in enumerate(centroids)]
    cdf = local_df(spark, rows, "___cell int, ___c array<double>")
    sims = df.join(F.broadcast(cdf)).select(
        F.col(id_col),
        *( [F.col(vec_col)] if keep_vec else [] ),
        F.struct(
            cosine(F.col(vec_col), F.col("___c")).alias("sim"),
            (-F.col("___cell")).alias("negc"),
            *( [F.col(vec_col).alias("v")] if keep_vec else [] ),
        ).alias("_b"),
    )
    best = sims.groupBy(id_col).agg(F.max("_b").alias("_b"))
    out_cols = [
        F.col(id_col),
        (-F.col("_b.negc")).cast("int").alias("cell"),
        F.col("_b.sim").alias("sim"),
    ]
    if keep_vec:
        out_cols.append(F.col("_b.v").alias(vec_col))
    return best.select(*out_cols)


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.99,
    max_cell: int | None = None,
    persist_assigned: bool = True,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings, then flagging
    within-cluster cosine near-duplicates.

    Each vector is assigned to its nearest centroid
    (:func:`make_assign_cell_sim_udf`); within every cell, pairs with
    ``round(cosine, 6) ≥ tau`` mark the HIGHER id as the duplicate
    (keep-first, deterministic). Output: one row per input —
    ``(id, cell, semantic_dup)``.

    Scale: the within-cell pair stage is the SemDeDup design point —
    quadratic only inside a cell, so ``k`` must grow with the corpus
    (the paper uses cells of ~10^4 over 10^8 docs). Contract: one
    cell must fit in a Python worker (see
    :func:`make_semdedup_cell_fn`). ``max_cell`` is the valve for
    skewed or degenerate clusterings: it caps each cell's
    participants by ascending id pre-shuffle (the
    :func:`~solrizer_spark.operators.dedup.cap_bucket_rows` valve —
    docs beyond the cap are never flagged, trading recall for a hard
    bound, same contract as the LSH pair caps). Vectors are
    L2-normalized ONCE per row (:func:`make_unit_udf`), so the
    per-pair work is a single dot product; no cartesian anywhere."""
    dims = len(centroids[0])
    unit = make_unit_udf(dims)(F.col(vec_col))
    cell = make_assign_cell_sim_udf(centroids)(F.col(vec_col))["cell"]
    assigned = df.select(
        F.col(id_col).alias("_id"),
        unit.alias("_v"),
        cell.alias("cell"),
    )
    if persist_assigned:
        # feeds the grouped pair stage AND the final dup-flag join —
        # without it, normalization + k·dims assignment run twice per
        # row (the embedding_near_dup_pairs persist_base rationale)
        assigned = assigned.persist()
    joinable = assigned
    if max_cell is not None:
        from solrizer_spark.operators.dedup import cap_bucket_rows

        joinable = cap_bucket_rows(
            assigned, [F.col("cell")], [F.col("_id")], max_cell
        )
    # per-cell grouped verification: vectors cross to Python once per
    # ROW; the quadratic pair stage is blocked numpy (see
    # make_semdedup_cell_fn — a per-pair kernel or join ships vectors
    # per PAIR and collapses at high pair/row ratios). The exact
    # rounded-threshold decision stays JVM-side.
    id_ddl = df.schema[id_col].dataType.simpleString()
    pairs = joinable.groupBy("cell").applyInPandas(
        make_semdedup_cell_fn(dims, tau),
        schema=f"_ida {id_ddl}, _idb {id_ddl}, pair_dot double",
    )
    dups = (
        pairs.where(F.round(F.col("pair_dot"), 6) >= tau)
        .select(F.col("_idb").alias("_dup_id"))
        .distinct()
    )
    return (
        assigned.join(dups, assigned["_id"] == F.col("_dup_id"), "left")
        .select(
            F.col("_id").alias(id_col),
            "cell",
            F.col("_dup_id").isNotNull().alias("semantic_dup"),
        )
    )


# --------------------------------------------------------------------------
# Arrow kernels (bit-parity numpy folds)
#
# Catalyst runs higher-order-function lambdas (``aggregate``/
# ``zip_with``/``transform``) INTERPRETED — measured ~3 ms/row-core
# per ~1k float ops on the PQ encoder (BENCH/pq_encode_bench_r5.json,
# 14-20× vs Arrow numpy). Every kernel below does the IDENTICAL
# arithmetic as its Column twin: per-dimension EXPLICIT left folds in
# float64 (``acc = acc + x_p·y_p`` for p = 0..dims-1 — numpy
# elementwise ops are IEEE-754 doubles, so each accumulator's
# operation sequence matches the ``aggregate(0.0, +)`` fold and the
# unrolled SQL chain bit-for-bit), Python-evaluated literal norms
# (``math.sqrt(sum(x*x for x in c))`` — the same literal the Column
# path embeds via ``F.lit``), strict comparisons, and first-extremum
# argmax/argmin (numpy returns the FIRST maximal index — the
# ``array_position(sims, array_max(sims))`` tie-break). Rounding
# (``F.round``, HALF_UP) always stays a JVM Column op over the kernel
# output — numpy's banker's rounding never touches oracle-checked
# values. These kernels are the only form the operators run; the
# Column twins that remain (:func:`cosine`, :func:`hyperplane_bucket`,
# :func:`assign_ivf_cell_sim`) serve the broadcast-join and registry
# paths and the kernel bit-parity tests.
# --------------------------------------------------------------------------


def make_cosine_pair_udf(dims: int):
    """Arrow pairwise cosine — the :func:`cosine` Column twin for the
    near-dup verification join (the quadratic stage of
    :func:`embedding_near_dup_pairs`). Zero-norm pairs score 0.0."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def cosine_pair_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        if a.empty:
            return pd.Series([], dtype="float64")
        A = np.asarray(a.tolist(), dtype=np.float64).reshape(len(a), dims)
        B = np.asarray(b.tolist(), dtype=np.float64).reshape(len(b), dims)
        d = np.zeros(len(a))
        na = np.zeros(len(a))
        nb = np.zeros(len(a))
        for p in range(dims):  # explicit left folds — bit parity
            d = d + A[:, p] * B[:, p]
            na = na + A[:, p] * A[:, p]
            nb = nb + B[:, p] * B[:, p]
        denom = np.sqrt(na) * np.sqrt(nb)
        nz = denom != 0.0
        out = np.zeros(len(a))
        np.divide(d, denom, out=out, where=nz)
        return pd.Series(out)

    return cosine_pair_udf


def make_unit_udf(dims: int):
    """Arrow L2-normalizer for :func:`semantic_dedup` (zero vectors →
    zero vectors): the norm is the :func:`norm` left fold, and
    float32 → float64 widening is exact, so each element matches the
    Column ``transform(x, x.cast("double") / norm(x))`` bit-for-bit."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    @pandas_udf(ArrayType(DoubleType()))
    def unit_udf(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=object)
        X = np.asarray(v.tolist(), dtype=np.float64).reshape(len(v), dims)
        acc = np.zeros(len(v))
        for p in range(dims):
            acc = acc + X[:, p] * X[:, p]
        nv = np.sqrt(acc)
        out = np.zeros_like(X)
        np.divide(X, nv[:, None], out=out, where=(nv != 0.0)[:, None])
        return pd.Series(list(out))

    return unit_udf


def make_band_keys_udf(bands: int, band_bits: int, dims: int):
    """Arrow multi-band hyperplane keys — one batch pass computes ALL
    ``bands`` bucket ids per vector (band ``b`` uses planes
    ``b·band_bits .. (b+1)·band_bits − 1``, the
    :func:`hyperplane_bucket` ``offset`` convention). Projections are
    the same per-dimension left folds as the Column ``dot(vec, w)``;
    the bit test is strict ``> 0`` and packing is MSB-first — integer
    arithmetic, exact. Output aligns with
    ``posexplode`` → ``(band, key)``."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    n_planes = bands * band_bits
    signs = np.asarray(
        [
            [float(_hyperplane_sign(j, d)) for d in range(dims)]
            for j in range(n_planes)
        ],
        dtype=np.float64,
    )

    @pandas_udf(ArrayType(LongType()))
    def band_keys_udf(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=object)
        X = np.asarray(v.tolist(), dtype=np.float64).reshape(len(v), dims)
        acc = np.zeros((len(v), n_planes))
        for p in range(dims):  # same left fold per plane
            acc = acc + X[:, p : p + 1] * signs[:, p]
        bits = (acc > 0.0).astype(np.int64)
        keys = np.zeros((len(v), bands), dtype=np.int64)
        for band in range(bands):
            for j in range(band_bits):  # acc*2 + b — MSB-first
                keys[:, band] = keys[:, band] * 2 + bits[:, band * band_bits + j]
        return pd.Series(list(keys))

    return band_keys_udf


def make_assign_cell_sim_udf(centroids: list[list[float]]):
    """Arrow centroid assignment — the :func:`assign_ivf_cell_sim`
    twin: ``struct(cell, sim)`` with the same Python-evaluated
    centroid-norm literals, the same ``nv·nc ≠ 0`` guard, and numpy's
    first-maximal argmax (= ``array_position(sims, array_max(sims))``
    on exact ties)."""
    import math

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    dims = len(centroids[0])
    k = len(centroids)
    C = np.asarray(
        [[float(x) for x in c] for c in centroids], dtype=np.float64
    )  # (k, dims)
    # identical literals to the Column path's F.lit(math.sqrt(...))
    ncs = np.asarray(
        [math.sqrt(sum(x * x for x in c)) for c in centroids], dtype=np.float64
    )

    @pandas_udf("struct<cell:int, sim:double>")
    def assign_cell_sim_udf(v: pd.Series) -> pd.DataFrame:
        if v.empty:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "sim": pd.Series([], dtype="float64")})
        X = np.asarray(v.tolist(), dtype=np.float64).reshape(len(v), dims)
        nacc = np.zeros(len(v))
        dots = np.zeros((len(v), k))
        for p in range(dims):
            nacc = nacc + X[:, p] * X[:, p]
            dots = dots + X[:, p : p + 1] * C[:, p]
        denom = np.sqrt(nacc)[:, None] * ncs
        sims = np.zeros_like(dots)
        np.divide(dots, denom, out=sims, where=denom != 0.0)
        cell = sims.argmax(axis=1)  # first maximal = lowest cell
        return pd.DataFrame(
            {
                "cell": cell.astype(np.int32),
                "sim": sims[np.arange(len(v)), cell],
            }
        )

    return assign_cell_sim_udf


def _make_kmeans_stats_fold(centroids: list[list[float]], k: int, dims: int):
    """mapInPandas round kernel for :func:`_kmeans_fit_loop` (round
    6): assign every vector with the :func:`make_assign_cell_sim_udf`
    fold arithmetic verbatim (same literals, same zero-norm guard,
    same first-maximal argmax), accumulate per-cell coordinate sums
    locally, and yield ONE (k·dims float64) row per partition — the
    whole Lloyd round becomes a single Python stage plus a driver
    merge, replacing posexplode → groupBy shuffle → collect."""
    import math

    import numpy as np

    C = np.asarray(
        [[float(x) for x in c] for c in centroids], dtype=np.float64
    )  # (k, dims)
    ncs = np.asarray(
        [math.sqrt(sum(x * x for x in c)) for c in centroids], dtype=np.float64
    )

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sums = np.zeros((k, dims), dtype=np.float64)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            X = np.asarray(pdf["_v"].tolist(), dtype=np.float64).reshape(
                len(pdf), dims
            )
            nacc = np.zeros(len(pdf))
            dots = np.zeros((len(pdf), k))
            for p in range(dims):
                nacc = nacc + X[:, p] * X[:, p]
                dots = dots + X[:, p : p + 1] * C[:, p]
            denom = np.sqrt(nacc)[:, None] * ncs
            sims = np.zeros_like(dots)
            np.divide(dots, denom, out=sims, where=denom != 0.0)
            cells = sims.argmax(axis=1)  # first maximal = lowest cell
            np.add.at(sums, cells, X)
        if any_rows:
            yield pd.DataFrame({"sums": [sums.tobytes()]})

    return fold


def make_semdedup_cell_fn(dims: int, tau: float):
    """Per-cell pair verification for :func:`semantic_dedup` — the
    ``applyInPandas`` body. Receives one CELL's ``(cell, _id, _v)``
    rows, computes every i<j unit-vector dot with a row-blocked
    explicit per-dimension left fold (``acc += U[i,p]·U[j,p]`` for
    p = 0..dims-1 — bit-identical to the Column ``dot`` fold), and
    emits only pairs with ``raw dot ≥ tau − 1e-6``: a conservative
    pre-filter (HALF_UP rounding to 6 decimals moves a double by
    < 5e-7, so no pair whose rounded dot could reach ``tau`` is
    dropped). The EXACT decision — ``F.round(pair_dot, 6) >= tau`` —
    stays a JVM Column op downstream, so rounding semantics never
    leave Spark.

    Why this shape: verification via a pair join + per-pair kernel
    ships both 64-float vectors across the Arrow boundary PER PAIR —
    at 1650 pairs/row (the uncapped 100k-vector stress) that is
    ~178 GB of serialization and timed out where the interpreted
    Column fold took 105 s. Grouping by cell moves each vector across
    ONCE PER ROW and runs the quadratic stage as vectorized numpy
    (row blocks of 1024 bound the accumulator at blocksize × cell
    rows). Contract: one cell must fit in a Python worker; the
    ``max_cell`` cap is the only valve (same memory story as the
    collect_list buckets)."""
    import numpy as np

    pre = tau - 1e-6

    def flag_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id", kind="mergesort", ignore_index=True)
        m = len(pdf)
        empty = pd.DataFrame(
            {"_ida": pdf["_id"][:0], "_idb": pdf["_id"][:0],
             "pair_dot": pd.Series([], dtype="float64")}
        )
        if m < 2:
            return empty
        U = np.asarray(pdf["_v"].tolist(), dtype=np.float64).reshape(m, dims)
        ids = pdf["_id"].to_numpy()
        col_idx = np.arange(m)
        out = []
        block = 1024
        for s in range(0, m - 1, block):
            e = min(s + block, m)
            acc = np.zeros((e - s, m))
            for p in range(dims):  # explicit left fold — bit parity
                acc = acc + U[s:e, p : p + 1] * U[:, p]
            cand = (acc >= pre) & (col_idx[None, :] > np.arange(s, e)[:, None])
            rows, cols = np.nonzero(cand)
            if len(rows):
                out.append(
                    pd.DataFrame(
                        {"_ida": ids[rows + s], "_idb": ids[cols],
                         "pair_dot": acc[rows, cols]}
                    )
                )
        return pd.concat(out, ignore_index=True) if out else empty

    return flag_cell


def make_cosine_to_query_udf(query_vec: list[float]):
    """Arrow cosine-to-literal-query — the :func:`brute_force_topk`
    scan expression (same Python-evaluated ``‖q‖`` literal, same
    folds, same zero guard)."""
    import math

    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    dims = len(query_vec)
    Q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    nq = math.sqrt(sum(float(x) * float(x) for x in query_vec))

    @pandas_udf(DoubleType())
    def cosine_to_query_udf(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype="float64")
        X = np.asarray(v.tolist(), dtype=np.float64).reshape(len(v), dims)
        d = np.zeros(len(v))
        nacc = np.zeros(len(v))
        for p in range(dims):
            d = d + X[:, p] * Q[p]
            nacc = nacc + X[:, p] * X[:, p]
        denom = np.sqrt(nacc) * nq
        out = np.zeros(len(v))
        np.divide(d, denom, out=out, where=denom != 0.0)
        return pd.Series(out)

    return cosine_to_query_udf


# --------------------------------------------------------------------------
# Product quantization (IVF-PQ scale path)
# --------------------------------------------------------------------------

def make_pq_encode_udf(codebooks: list[list[list[float]]]):
    """Arrow-batched PQ encoder: numpy across (rows × cells), but the
    per-dimension accumulation is an EXPLICIT left fold (``acc = acc
    + x_p·w_p`` for p = 0..ds-1 in float64), so every distance
    ``|c|² − 2·x·c`` (``|c|²`` a Python left fold) is bit-identical to
    the unrolled SQL chain of the PQ oracle — argmin (first minimal =
    lowest cell, the oracle's ``ORDER BY d ASC, cell ASC``) lands on
    the same codeword even at exact ties."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    m = len(codebooks)
    ds = len(codebooks[0][0])
    mats = [np.asarray(book, dtype=np.float64) for book in codebooks]  # (k, ds)
    normc = [
        np.asarray([sum(w * w for w in c) for c in book], dtype=np.float64)
        for book in codebooks
    ]

    @pandas_udf(ArrayType(IntegerType()))
    def pq_encode_udf(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=object)
        X = np.asarray(v.tolist(), dtype=np.float64).reshape(len(v), m, ds)
        codes = np.empty((len(v), m), dtype=np.int32)
        for j in range(m):
            acc = np.zeros((len(v), mats[j].shape[0]))
            for p in range(ds):  # explicit left fold — bit parity
                acc = acc + X[:, j, p : p + 1] * mats[j][:, p]
            d = normc[j] - 2.0 * acc
            codes[:, j] = d.argmin(axis=1)  # first minimal = lowest cell
        return pd.Series(list(codes))

    return pq_encode_udf


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Add ``out_col: array<int>`` — the PQ code (one codeword index
    per subspace). Map-side, zero shuffle; at ``m=8, k=256`` the
    stored code is 8 bytes per vector vs 256 bytes of float32 at
    dims=64 — the 32× compression that lets a 10^12-vector ADC scan
    read codes only (column pruning drops the raw vectors entirely).
    Encoding is ONE Arrow-vectorized numpy stage
    (:func:`make_pq_encode_udf`)."""
    return df.withColumn(out_col, make_pq_encode_udf(codebooks)(F.col(vec_col)))


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    train_fraction: float = 1.0,
) -> list[list[list[float]]]:
    """Train PQ codebooks (Jégou, Douze, Schmid 2011, "Product
    Quantization for Nearest Neighbor Search"): split each vector
    into ``m`` subspaces and run plain-L2 Lloyd's independently per
    subspace — fused so every round is ONE distributed pass over the
    input covering all ``m`` subspaces (an explode by subspace, not
    ``m`` separate jobs).

    Scale shape (the :func:`kmeans_fit` discipline): each round is ONE
    ``mapInPandas`` fold (:func:`_make_pq_stats_fold` — the
    :func:`make_pq_encode_udf` assignment arithmetic plus per-(sub,
    cell) sums and counts), yielding one ``m × k × ds`` row per
    partition — no shuffle, and corpus size never reaches the
    driver. Init is deterministic — the ``k``
    vectors with the smallest ``xxhash64(id)``, sliced per subspace.
    Empty cells keep their previous codeword. The input is persisted
    for the duration of training unless the caller already did.

    ``train_fraction`` trains on a deterministic hash-sample of the
    input (FAISS practice: codebooks need ~10³-10⁴ vectors per
    codeword, not the corpus) — at 10^12 vectors pass a fraction that
    keeps the sample in the 10⁵-10⁶ range; encode/search always run
    over the full input."""
    from pyspark import StorageLevel

    if dims is None:
        row = df.select(F.size(vec_col).alias("d")).first()
        if row is None:
            raise ValueError("pq_train: empty input")
        dims = row["d"]
    if dims % m != 0:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    ds = dims // m
    if train_fraction < 1.0:
        from solrizer_spark.operators.sampling import hash_sample

        df = hash_sample(df, id_col, train_fraction, salt="pqtrain")

    already = df.storageLevel.useMemory or df.storageLevel.useDisk
    if not already:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _pq_train_loop(df, m, k, ds, n_iter, id_col, vec_col)
    finally:
        if not already:
            df.unpersist()


def _make_pq_stats_fold(books: list[list[list[float]]], m: int, k: int, ds: int):
    """mapInPandas round kernel for :func:`_pq_train_loop`: assign
    every vector with the SAME explicit-left-fold arithmetic as
    :func:`make_pq_encode_udf`, accumulate per-(sub, cell) coordinate
    sums and counts locally, and yield ONE (m·k·ds sums, m·k counts)
    row per partition — the whole Lloyd round is a single Python
    stage plus a driver merge of partition partials, no explode/
    groupBy shuffle and no second collect job. Deterministic: the
    input partitioning is a fixed scan (persisted), ``np.add.at`` is
    sequential per row, and the driver merges partials in partition
    order."""
    import numpy as np
    import pandas as pd

    mats = [np.asarray(book, dtype=np.float64) for book in books]  # (k, ds)
    normc = [
        np.asarray([sum(w * w for w in c) for c in book], dtype=np.float64)
        for book in books
    ]

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sums = np.zeros((m, k, ds), dtype=np.float64)
        counts = np.zeros((m, k), dtype=np.int64)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            X = np.asarray(pdf["_v"].tolist(), dtype=np.float64).reshape(
                len(pdf), m, ds
            )
            for j in range(m):
                acc = np.zeros((len(pdf), mats[j].shape[0]))
                for p in range(ds):  # explicit left fold — bit parity
                    acc = acc + X[:, j, p : p + 1] * mats[j][:, p]
                d = normc[j] - 2.0 * acc
                codes = d.argmin(axis=1)  # first minimal = lowest cell
                np.add.at(sums[j], codes, X[:, j, :])
                counts[j] += np.bincount(codes, minlength=k)
        if any_rows:
            yield pd.DataFrame(
                {"sums": [sums.tobytes()], "counts": [counts.tobytes()]}
            )

    return fold


def _pq_train_loop(
    df: DataFrame, m: int, k: int, ds: int, n_iter: int, id_col: str, vec_col: str
) -> list[list[list[float]]]:
    import numpy as np

    seeds = (
        df.select(F.col(vec_col).alias("_v"), F.col(id_col).alias("_id"))
        .orderBy(F.xxhash64(F.col("_id").cast("string")), F.col("_id"))
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(f"pq_train: need at least k={k} rows, got {len(seeds)}")
    books = [
        [[float(x) for x in r["_v"][j * ds : (j + 1) * ds]] for r in seeds]
        for j in range(m)
    ]
    vecs = df.select(F.col(vec_col).alias("_v"))
    for _ in range(n_iter):
        # one job, one stage per round: assignment + partial stats in
        # a single mapInPandas fold (see _make_pq_stats_fold); only
        # m·k·ds floats per PARTITION reach the driver (round 6 —
        # replaces encode → double explode → groupBy shuffle →
        # collect, which cost two scheduled jobs per round)
        parts = vecs.mapInPandas(
            _make_pq_stats_fold(books, m, k, ds), "sums binary, counts binary"
        ).collect()
        sums = np.zeros((m, k, ds), dtype=np.float64)
        counts = np.zeros((m, k), dtype=np.int64)
        for r in parts:
            sums += np.frombuffer(r["sums"], dtype=np.float64).reshape(m, k, ds)
            counts += np.frombuffer(r["counts"], dtype=np.int64).reshape(m, k)
        books = [
            [
                [float(x) for x in sums[j][c] / counts[j][c]]
                if counts[j][c]
                else books[j][c]
                for c in range(k)
            ]
            for j in range(m)
        ]
    return books


def pq_lut(
    query_vec: list[float], codebooks: list[list[list[float]]], scale: int = 1 << 20
) -> list[list[int]]:
    """Integer-quantized ADC lookup table: ``lut[sub][cell] =
    round(‖q_sub − c‖² · scale)``. Quantizing the LUT (the FAISS
    fast-scan trick, 8-bit there) makes the ADC distance an INTEGER
    sum — associative and order-free — so the Spark fold and the SQL
    ``SUM`` produce the exact same shortlist with no float-fold
    parity discipline at all. At ``scale=2^20`` the rounding error
    per subspace is ≤ 2⁻²¹ — invisible next to the quantization
    error of PQ itself — and ``m`` terms stay far inside int64."""
    m = len(codebooks)
    ds = len(codebooks[0][0])
    return [
        [
            round(
                sum(
                    (query_vec[j * ds + p] - c[p]) ** 2 for p in range(ds)
                )
                * scale
            )
            for c in codebooks[j]
        ]
        for j in range(m)
    ]


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    shortlist: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str | None = None,
) -> DataFrame:
    """PQ top-k with asymmetric distance (ADC) + exact re-rank:
    encode every vector (:func:`pq_encode`), approximate its distance to
    the query as the integer-LUT sum over its code, TakeOrdered the
    ``shortlist`` best (ties → lowest id), then exact-cosine re-rank
    the shortlist to the final ``k``.

    Scale: the ADC scan needs ONLY the code column (m bytes/vector —
    at 10^12 vectors the codes are a stored column and the raw
    vectors never leave the lake); both cuts are TakeOrdered, never a
    full sort; the exact re-rank touches ``shortlist`` vectors.

    Pass ``code_col`` when the codes are already a stored column
    (encode once, probe many — the production shape); otherwise they
    are computed on the fly from ``vec_col``.

    Sizing ``shortlist``: ADC resolution is ``m·log2(k)`` bits, so
    vectors closer than the quantization error TIE on adist — the
    shortlist must cover the largest plausible tie set or the
    tie-break (lowest id) silently drops true neighbors. Rule of
    thumb: shortlist ≳ expected cluster/near-dup group size, and
    always ≫ k (FAISS practice: re-rank 100-1000× k)."""
    lut = pq_lut(query_vec, codebooks)
    lut_lit = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in lut]
    )
    if code_col is not None:
        coded = df.withColumn("_code", F.col(code_col))
    else:
        coded = pq_encode(df, codebooks, vec_col=vec_col, out_col="_code")
    adist = F.aggregate(
        F.zip_with(
            F.col("_code"),
            lut_lit,
            lambda c, row: F.element_at(row, c + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # coalesce(1) is free (the shortlist is one partition already) and
    # keeps the re-rank's Python projection from being pushed below
    # the limit, which would turn the shortlist from TakeOrdered into a
    # range-partitioned sort of the whole input
    short = (
        coded.withColumn("_adist", adist)
        .orderBy(F.col("_adist").asc(), F.col(id_col).asc())
        .limit(shortlist)
        .coalesce(1)
    )
    return brute_force_topk(short, query_vec, k, id_col, vec_col)
