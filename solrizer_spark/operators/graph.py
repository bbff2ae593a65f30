"""Host-graph analytics: fixed-point integer PageRank
(engine-original; consumes the edge lists produced by
``functions/urls.py`` outlink extraction — reference has no graph
layer).

Why integer fixed-point: floating-point PageRank is not reproducible
across engines or even across partition layouts (summation order), so
it could never hash-match an oracle. Ranks here are integer "mass"
(default total 10^12) and every step is exact integer arithmetic
(``DIV`` floor-division, multiply-before-divide) — bit-identical in
Spark and DuckDB, deterministic under any parallelism.

Semantics (documented contract):

* edges are de-duplicated first (simple graph; multi-edges don't
  multiply contribution),
* damping ``d = damping[0]/damping[1]`` (default 85/100): each round
  ``rank' = base + d * Σ inbound(rank DIV outdeg)`` with
  ``base = ((1-d)·total) DIV n_nodes``,
* dangling nodes (no out-edges) keep receiving ``base`` but their
  damped mass is dropped, not redistributed — redistribution costs an
  extra global aggregate per round and changes nothing for ranking
  order at web scale; total mass therefore decays slightly and sums
  to ≤ ``total_mass``.

Scale design: one shuffle per round (contribution groupBy; the
edges⋈ranks join shuffles on the same ``src`` key as the outdegree
join so AQE coalesces them), lineage truncated per round with an
eager ``localCheckpoint`` exactly like ``connected_components``
(dedup.py) — round count is a fixed parameter, so the plan depth is
bounded. The node-count action runs once, not per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: tuple[int, int] = (85, 100),
    total_mass: int = 10**12,
    src: str = "src",
    dst: str = "dst",
    checkpoint: bool = True,
    dedup_edges: bool = True,
    checkpoint_interval: int = 8,
) -> DataFrame:
    """Return ``(node, rank)`` after ``iterations`` rounds of integer
    PageRank over the (de-duplicated) ``edges``. ``rank`` sums to
    ≤ ``total_mass`` (floor rounding + dangling decay). Pass
    ``dedup_edges=False`` when the input is already distinct (e.g.
    :func:`host_edges` output) to skip a redundant full shuffle."""
    num, denom = damping
    if not (0 < num < denom):
        raise ValueError(f"damping must be a proper fraction, got {damping}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if dedup_edges:
        e = e.distinct()
    from solrizer_spark.operators.repartition import _scan_input_bytes

    shuffle_parts = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    src_bytes = _scan_input_bytes(edges)
    if src_bytes is None:
        n_parts = shuffle_parts
    else:
        n_parts = max(1, min(shuffle_parts, -(-src_bytes // (64 * 1024**2))))
    # cached plans keep their OUTPUT partitioning out of AQE's reach
    # (canChangeCachedPlanOutputPartitioning default), so end both
    # cached frames in an explicit scale-derived repartition — the
    # internal exchanges still coalesce, and the node set never fills
    # as shuffle_partitions-many near-empty cached partitions
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(n_parts)
        .persist()
    )
    n = nodes.count()
    if n == 0:
        nodes.unpersist()
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # Pre-join rank-independent sides once, FOLD the keep-alive rows
    # in as deg=0 self-rows (round 6, guide §2.4): a node's self-row
    # contributes 0 mass to itself, so every node reaches the
    # aggregate without the per-round keep-alive union leg (one fewer
    # exchange per round). The table is hash-partitioned by the
    # per-round join key ONCE — the persisted layout is reused every
    # round, only the (node,rank)-sized ranks side moves.
    edge_deg = e.join(outdeg, "src").unionByName(
        nodes.select(
            F.col("node").alias("src"),
            F.col("node").alias("dst"),
            F.lit(0).cast("long").alias("deg"),
        )
    )
    edge_deg = edge_deg.repartition(n_parts, "src").persist()

    base = ((denom - num) * total_mass // denom) // n
    init = total_mass // n
    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank"))

    for i in range(iterations):
        # SHUFFLE_HASH build on the small ranks side: the persisted
        # edge table streams without a per-round re-sort
        contribs = edge_deg.join(
            ranks.withColumnRenamed("node", "src").hint("shuffle_hash"),
            "src",
        ).select(
            F.col("dst").alias("node"),
            F.expr("CASE WHEN deg = 0 THEN 0 ELSE rank DIV deg END").alias(
                "contrib"
            ),
        )
        ranks = (
            contribs.groupBy("node")
            .agg(F.sum("contrib").alias("inbound"))
            .select(
                "node",
                (F.lit(base) + F.expr(f"{num} * inbound DIV {denom}"))
                .cast("long")
                .alias("rank"),
            )
        )
        # Lineage hygiene only — pagerank runs a FIXED round count
        # with no per-round convergence probe, so rounds between
        # checkpoints stay one lazily-composed plan and a short run
        # (< checkpoint_interval rounds) executes as a single action.
        # The eager per-round materialization cost ~1 job round-trip
        # per iteration for nothing (round 6, guide §1.2).
        if checkpoint and (i + 1) % checkpoint_interval == 0:
            ranks = ranks.localCheckpoint(eager=True)

    if checkpoint and iterations % checkpoint_interval != 0:
        # materialize BEFORE dropping the caches the lazy tail of the
        # plan still references — this is the run's single action when
        # iterations < checkpoint_interval
        ranks = ranks.localCheckpoint(eager=True)
    nodes.unpersist()
    edge_deg.unpersist()
    return ranks


def host_edges(
    pages: DataFrame,
    html_col: str = "html_text",
    url_col: str = "url",
) -> DataFrame:
    """Distinct (src, dst) eTLD+1 edges of a crawl's link graph:
    JVM-regex outlink extraction → registered domains → self-loops
    dropped. The web-graph side table `job.py --host-graph` writes."""
    from ..functions.urls import outlink_domains, registered_domain

    return (
        pages.select(
            registered_domain(url_col).alias("src"),
            F.explode(outlink_domains(html_col)).alias("dst"),
        )
        .where(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
    )
