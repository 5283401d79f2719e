"""Graph analytics over relational edge lists.

The registry's only graph surface so far was connected components
(dedup clustering, ``operators/dedup.py:duplicate_clusters``); this
module adds link analysis — PageRank over an edge relation — in the
repo's exact-integer discipline so the iterative computation is
oracle-checkable bit-for-bit across engines.

Scale design
------------

- Edges are a DataFrame, never an adjacency structure on the driver;
  each iteration is one (rank ⋈ edges) key join + one ``dst``
  aggregation — the standard vertex-centric shape, AQE-planned.
- The ``(src, dst, out_degree)`` relation is reused every iteration, so
  it is pinned (:func:`~big_data_validator_spark.operators.pin`);
  iteration count is a small constant (monitoring-grade centrality,
  not convergence runs).
- All arithmetic is BIGINT: ranks are fixed-point integers, per-edge
  contributions are floor divisions, damping is a rational
  ``num/den`` applied as ``(num·Σ) div den``.  Integer sums are
  ORDER-INDEPENDENT (float sums are not, which is what makes naive
  PageRank un-oracleable cross-engine).  Under ANSI mode an overflow
  raises loudly; with the initial rank ``_INIT_RANK = 1e12`` the
  headroom bound is ``85 · Σ_incoming rank/outdeg < 2⁶³`` — a single
  node fed by ~10⁵ out-degree-1 sources at full initial mass.  Scale
  ``_INIT_RANK`` down for graphs beyond that.

The reference validator has no graph surface at all (row-local rules
only — ``reference/bigDataValidator``); this extends the north-star
event/profiling families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_validator_spark.operators import (
    adaptive_partitions as _invariant_partitions,
    pin,
)


_DAMPING_NUM = 85
_DAMPING_DEN = 100
#: Every node's starting rank (fixed-point units).
_INIT_RANK = 10**12
#: The undamped share every node receives each iteration.
_BASE_RANK = ((_DAMPING_DEN - _DAMPING_NUM) * _INIT_RANK) // _DAMPING_DEN


def pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Fixed-point integer PageRank: ``iters`` synchronous iterations
    of ``r' = base + (d·Σ_in (r div outdeg)) div den`` over the
    DISTINCT edge set, every node starting at ``_INIT_RANK``, with
    ``base = _BASE_RANK = ((den−num)·_INIT_RANK) div den``
    uniform per node and no dangling-mass redistribution (sinks keep
    what flows in; the simplification is mirrored exactly by the
    oracle).  Every operation is BIGINT, so the result is exact and
    engine-portable.

    Returns ``(node, rank_q)`` for every node (sources, sinks, both).

    The two iteration-invariant relations — ``ew`` (edge + out-degree,
    hash-partitioned by ``_src``) and ``nodes`` (hash-partitioned by
    ``node``) — are PINNED here.  Before this,
    every iteration's plan re-derived distinct-edges, the out-degree
    aggregate, and the node union from the raw input (the r13 before-
    plan shows 42 Exchanges for 3 iterations, zero reuse); with the
    invariants cached ON their join keys, each iteration's contribution
    join and rank re-join consume the cached partitioning and the only
    exchange left per iteration is the inherent ``dst`` aggregation
    shuffle (optimization guide §2.4 — reuse one exchange across
    same-keyed operations; §5 — persist only what is re-read).
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    n_parts = _invariant_partitions(edges)
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst")
    ).distinct()
    nodes = pin(
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
        .repartition(n_parts, "node")
    )
    outd = e.groupBy("_src").agg(F.count(F.lit(1)).alias("_od"))
    # cached hash-partitioned by _src — exactly the key every
    # iteration's contribution join needs, so the cache serves it back
    # without a new Exchange.
    ew = pin(e.join(outd, "_src").repartition(n_parts, "_src"))
    r = nodes.select("node", F.lit(_INIT_RANK).cast("long").alias("rank_q"))
    for _ in range(iters):
        contrib = ew.join(
            r, ew["_src"] == r["node"]
        ).select(
            F.col("_dst").alias("node"),
            F.expr("rank_q div _od").alias("_c"),
        )
        # NOT aggregated at the caches' partition count (r14 A/B): an
        # explicit pre-agg repartition would let the rank re-join ride
        # the cached ``nodes`` partitioning, but it also moves the
        # exchange BELOW the aggregation, losing map-side combining —
        # measured 4.8s -> 5.1s at sf0.1.  Partial agg wins.
        insum = contrib.groupBy("node").agg(F.sum("_c").alias("_m"))
        r = nodes.join(insum, "node", "left").select(
            "node",
            (
                F.lit(_BASE_RANK)
                + F.expr(
                    f"({_DAMPING_NUM} * coalesce(_m, 0L)) div {_DAMPING_DEN}"
                )
            )
            .cast("long")
            .alias("rank_q"),
        )
    return r


def label_propagation_min(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Synchronous min-label propagation (HashMin): every node starts
    labeled with its own id; each round it takes the minimum of its
    label and its neighbors' labels.  ``edges`` must already be the
    SYMMETRIZED, distinct edge set (both directions of every edge, no
    repeats) — the caller symmetrizes once.
    After ``iters`` rounds a node's label is the minimum id within its
    ``iters``-hop neighborhood; run to the graph's diameter and labels
    are connected components — the relational fixed-point the
    large-star/small-star dedup clustering implements with adaptive
    rounds, here in the FIXED-round form whose every intermediate state
    is engine-portable (min over ids is order-independent, so an
    unrolled-CTE oracle replays it exactly — the pagerank device).

    Scale shape matches :func:`pagerank_integer`: per round, one
    (labels ⋈ edges) key join + one ``dst`` min-aggregation, both
    map-side combinable; the edge relation is reused every round.
    Labels are compared with ``least``,
    which for STRING ids is lexicographic in both Spark and DuckDB
    (ASCII ids only — mind collation for anything fancier).

    Returns ``(node, label)`` for every node.

    The undirected edge relation is PINNED here hash-partitioned by
    ``_a`` — the key every round's neighbor join consumes.  The node
    derivation and each round's label re-join then ride that one
    partitioning, so the only
    Exchange per round is the inherent neighbor-min aggregation on
    ``_b`` (guide §2.4; the r13 before-plan carried 68 Exchanges for 3
    rounds because every round re-derived the edge relation).
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    und = pin(edges.select(
        F.col(src).alias("_a"), F.col(dst).alias("_b")
    ).repartition(_invariant_partitions(edges), "_a"))
    # _a-partitioning satisfies the node-keyed aggregate below, so the
    # distinct is exchange-free off the cache.
    nodes = und.select(F.col("_a").alias("node")).distinct()
    lbl = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iters):
        nbr_min = (
            und.join(lbl, und["_a"] == lbl["node"])
            .groupBy(F.col("_b").alias("_n"))
            .agg(F.min("label").alias("_nl"))
        )
        lbl = lbl.join(
            nbr_min, lbl["node"] == nbr_min["_n"], "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))
            ).alias("label"),
        )
    return lbl


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts via DEGREE-ORDERED edge orientation —
    the motif-counting member of the graph family (centrality =
    :func:`pagerank_integer`, components = :func:`label_propagation_min`,
    motifs = here).

    The naive triangle join (E ⋈ E ⋈ E) enumerates every wedge at a
    hub: a node of degree d contributes d² candidate wedges, so one
    celebrity node dominates the whole job.  The standard fix orients
    each undirected edge from the (degree, id)-smaller endpoint to the
    larger; every out-degree is then O(√m) regardless of hub size, the
    wedge join is Σ out-deg² ≤ O(m^1.5) worst case, and each triangle
    is generated exactly once (its rank-minimal vertex is the pivot).
    All joins are plain equi-joins on node keys — AQE-planned, no
    driver state.  Counting is exact integer arithmetic, so the result
    is engine-portable and a plain SQL 3-way join oracle reproduces it
    (the oracle may enumerate wedges naively — quadratic hubs are a
    SCALE hazard, not a correctness one).

    Input edges are treated as UNDIRECTED; duplicates and self-loops
    are dropped.  Returns ``(node, n_triangles)`` for every node in at
    least one triangle.
    """
    a = F.least(F.col(src), F.col(dst)).alias("_a")
    b = F.greatest(F.col(src), F.col(dst)).alias("_b")
    # e feeds three consumers (the degree count and both legs of the
    # degree join); oriented feeds three more (both wedge legs and the
    # closing-edge probe).  Persist each once — at input-size-adaptive
    # partition counts (see _invariant_partitions) — instead of
    # recomputing the whole upstream per consumer (guide §5; the r13
    # before-plan re-derived the oriented relation three times — 48
    # Exchanges).  ``oriented`` is cached hash-partitioned on ``lo``:
    # both wedge legs join on it, so the self-join is exchange-free off
    # the cache (guide §2.4).
    n_parts = _invariant_partitions(edges)
    e = pin(
        edges.select(a, b)
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .repartition(n_parts, "_a")
    )
    deg = (
        e.select(F.col("_a").alias("n"))
        .union(e.select(F.col("_b")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("_a"), F.col("d").alias("_da"))
    db = deg.select(F.col("n").alias("_b"), F.col("d").alias("_db"))
    ranked = e.join(da, "_a").join(db, "_b")
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("_a") < F.col("_b"))
    )
    oriented = pin(ranked.select(
        F.when(a_first, F.col("_a")).otherwise(F.col("_b")).alias("lo"),
        F.when(a_first, F.col("_b")).otherwise(F.col("_a")).alias("hi"),
        F.when(a_first, F.col("_db")).otherwise(F.col("_da")).alias("dhi"),
    ).repartition(n_parts, "lo"))
    o1 = oriented.select(
        F.col("lo").alias("u"), F.col("hi").alias("v"), F.col("dhi").alias("dv")
    )
    o2 = oriented.select(
        F.col("lo").alias("u"), F.col("hi").alias("w"), F.col("dhi").alias("dw")
    )
    # one wedge per unordered {v, w}: v before w in the SAME rank order
    # the orientation used, so the closing edge (if present) is v→w
    wedges = o1.join(o2, "u").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(
        F.col("lo").alias("v"), F.col("hi").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"]).select("u", "v", "w")
    return (
        tri.select(
            F.explode(F.array("u", "v", "w")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
