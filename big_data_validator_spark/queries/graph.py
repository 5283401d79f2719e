"""Graph entries: PageRank, label propagation and triangle counts."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_validator_spark.operators import dedup as D
from big_data_validator_spark.operators.graph import (
    label_propagation_min,
    pagerank_integer,
    triangle_counts,
)
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.loader import _t


@query(
    "graph_pagerank_flow",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    nodes AS MATERIALIZED (
      SELECT src AS node FROM e UNION SELECT dst FROM e),
    outd AS MATERIALIZED (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM e GROUP BY 1),
    r0 AS MATERIALIZED (
      SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
    i1 AS MATERIALIZED (
      SELECT n.node,
             CAST(150000000000 + (85 * COALESCE(s.m, 0)) // 100
                  AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(r0.r // outd.od) AS m
        FROM e JOIN r0 ON r0.node = e.src
               JOIN outd ON outd.src = e.src
        GROUP BY 1) s ON s.node = n.node),
    i2 AS MATERIALIZED (
      SELECT n.node,
             CAST(150000000000 + (85 * COALESCE(s.m, 0)) // 100
                  AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(i1.r // outd.od) AS m
        FROM e JOIN i1 ON i1.node = e.src
               JOIN outd ON outd.src = e.src
        GROUP BY 1) s ON s.node = n.node),
    i3 AS MATERIALIZED (
      SELECT n.node,
             CAST(150000000000 + (85 * COALESCE(s.m, 0)) // 100
                  AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(i2.r // outd.od) AS m
        FROM e JOIN i2 ON i2.node = e.src
               JOIN outd ON outd.src = e.src
        GROUP BY 1) s ON s.node = n.node)
    SELECT node, r AS rank_q FROM i3
    WHERE node LIKE 's%' ORDER BY node
    """,
)
def graph_pagerank_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over the customer→supplier flow graph
    (operators/graph.py:pagerank_integer — the registry's first link-
    analysis entry): edges are the DISTINCT (customer, supplier) pairs
    an order connects (orders ⋈ lineitem), three synchronous
    iterations of ``r' = base + (85·Σ_in (r div outdeg)) div 100`` in
    pure BIGINT fixed-point — integer sums are order-independent, so
    an ITERATIVE graph algorithm becomes exactly oracle-checkable
    where float PageRank never could be.  The ORACLE unrolls the three
    iterations as MATERIALIZED CTEs (the text_bpe_learn device).
    Ships the supplier ranks (sinks that accumulate flow), ordered by
    node.  The operator persists the iteration-invariant edge+outdegree
    and node relations ON their join keys (r13: the old entry-level
    edges cache still left every iteration re-deriving distinct edges,
    out-degrees, and the node union — 42 Exchanges for 3 iterations —
    AND was never actually released, since a bare cached source carries
    no ``_bdv_pinned``); pins now ride the result frame and are
    released after materialization.
    """
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Narrow node keys (guide §2.3): iterate over BIGINT-encoded nodes
    # (customer 2k, supplier 2k+1 — an isomorphic relabeling, so every
    # out-degree, edge and integer rank is unchanged) and rebuild the
    # 'c'/'s' string ids only on the final supplier-sized result.  The
    # string keys were hashed/compared in all nine iteration exchanges.
    edges = o.join(l, o["o_orderkey"] == l["l_orderkey"]).select(
        (F.col("o_custkey").cast("long") * 2).alias("src"),
        (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
    )
    ranks = pagerank_integer(edges, iters=3)
    out = (
        ranks.filter(F.col("node") % 2 == 1)
        .select(
            F.concat(
                F.lit("s"), ((F.col("node") - 1) / 2).cast("long")
            ).alias("node"),
            "rank_q",
        )
        .orderBy("node")
    )
    out._bdv_pinned = D.pinned_caches(ranks)
    return D.materialize_release(out)


def _label_propagation_oracle(iters: int = 3) -> str:
    """Unrolled min-label propagation (the pagerank CTE device): one
    (neighbor-min LEFT JOIN + LEAST) stage per iteration over the
    symmetrized distinct edge set."""
    stages = []
    prev = "lab0"
    for it in range(1, iters + 1):
        cur = f"lab{it}"
        stages.append(
            f"""{cur} AS MATERIALIZED (
      SELECT n.node,
             LEAST(n.label, COALESCE(m.nl, n.label)) AS label
      FROM {prev} n LEFT JOIN (
        SELECT e.b AS node, MIN(l.label) AS nl
        FROM e JOIN {prev} l ON l.node = e.a
        GROUP BY 1) m ON m.node = n.node)"""
        )
        prev = cur
    stages_sql = ",\n    ".join(stages)
    return f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                      's' || CAST(l_suppkey AS VARCHAR) AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_totalprice > 450000),
    e AS MATERIALIZED (
      SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
    lab0 AS MATERIALIZED (
      SELECT node, node AS label
      FROM (SELECT DISTINCT a AS node FROM e)),
    {stages_sql}
    SELECT node, label FROM {prev} ORDER BY node
    """


@query("graph_label_propagation", oracle=_label_propagation_oracle(3))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation over the HIGH-VALUE customer↔supplier
    flow subgraph (operators/graph.py:label_propagation_min — VERDICT
    r8 item 8, rounding out link analysis next to PageRank): edges are
    restricted to orders above 450k so the graph fractures into dozens
    of components (the full graph is one blob and every label
    collapses — discriminating nothing); three synchronous HashMin
    rounds over the symmetrized distinct edge set give each node the
    minimum id within its 3-hop neighborhood —
    the fixed-round, engine-portable form of connected components
    (min over string ids is order-independent, unlike any float
    computation).  The ORACLE unrolls the three rounds as MATERIALIZED
    CTEs, one neighbor-min join per round — two engines, one algebra.
    The operator persists the symmetrized relation hash-partitioned on
    the join key (r13: the old entry-level cache fed every round
    through a fresh Exchange — 68 total — and, being a bare cached
    source, was never released); pins ride the result frame and are
    released after materialization."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select("o_orderkey", "o_custkey")
    )
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    directed = o.join(l, o["o_orderkey"] == l["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
            "src"
        ),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
            "dst"
        ),
    ).distinct()
    # symmetrize ONCE and cache: the undirected relation is consumed by
    # every propagation round, so the distinct-union shuffle must not
    # re-run per iteration
    und = directed.union(
        directed.select(F.col("dst"), F.col("src"))
    ).distinct()
    labels = label_propagation_min(und, iters=3)
    out = labels.orderBy("node")
    out._bdv_pinned = D.pinned_caches(labels)
    return D.materialize_release(out)


@query(
    "graph_triangle_count",
    oracle="""
    WITH e0 AS MATERIALIZED (
      SELECT a.l_partkey AS x, b.l_partkey AS y
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    t AS MATERIALIZED (
      SELECT e1.x AS u, e1.y AS v, e2.y AS w
      FROM e0 e1
      JOIN e0 e2 ON e2.x = e1.x AND e2.y > e1.y
      JOIN e0 e3 ON e3.x = e1.y AND e3.y = e2.y),
    r AS (SELECT u AS node FROM t
          UNION ALL SELECT v FROM t
          UNION ALL SELECT w FROM t)
    SELECT node AS p_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM r GROUP BY 1 ORDER BY 1
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the FREQUENT co-purchase graph
    (operators/graph.py:triangle_counts) — the motif member completing
    the graph family next to PageRank and label propagation.  Edges =
    part pairs co-occurring in ≥2 orders (the mining_frequent_pairs
    support device prunes the 100×-larger incidental-pair haze);
    triangles = closed co-purchase trios, the clustering signal basket
    analysis and recommender audits read.  The Spark side counts via
    DEGREE-ORDERED orientation (each triangle generated once at its
    rank-minimal vertex, out-degrees bounded O(√m) so a hub part can't
    own the wedge join); the ORACLE is the independent id-ordered
    3-way self-join — two different enumeration orders, one exact
    integer answer.  r13: the operator persists the distinct-edge and
    oriented relations for their three consumers each (the before-plan
    re-derived them per consumer — 48 Exchanges), the support-filtered
    input is cached for the build, and ALL pins now ride the result
    frame: the old entry passed the bare cached frame to
    materialize_release, which releases only ``_bdv_pinned`` lists, so
    the cache silently survived every run — and Spark's plan-keyed
    cache manager then served later bench passes from it (cross-pass
    result reuse the bench must not have)."""
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    l2 = l.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("_pk")
    )
    edges = (
        l.join(l2, l["l_orderkey"] == l2["_ok"])
        .filter(F.col("l_partkey") < F.col("_pk"))
        .groupBy(
            F.col("l_partkey").alias("src"), F.col("_pk").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("src", "dst")
    )
    # no entry-level cache: the operator persists its derived edge
    # relation, which consumes this input exactly once — a second
    # back-to-back cache of the same rows is pure write+read overhead.
    tri = triangle_counts(edges)
    out = tri.select(
        F.col("node").alias("p_partkey"), "n_triangles"
    ).orderBy("p_partkey")
    out._bdv_pinned = D.pinned_caches(tri)
    return D.materialize_release(out)
