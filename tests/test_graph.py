from __future__ import annotations

import pytest

from big_data_validator_spark.operators.graph import pagerank_integer


def _py_pagerank(edges, iters, num=85, den=100, init=10**12):
    """Reference simulation with plain Python ints (exact)."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outd = {}
    for s, _ in edges:
        outd[s] = outd.get(s, 0) + 1
    base = ((den - num) * init) // den
    r = {n: init for n in nodes}
    for _ in range(iters):
        m = {n: 0 for n in nodes}
        for s, d in edges:
            m[d] += r[s] // outd[s]
        r = {n: base + (num * m[n]) // den for n in nodes}
    return r


def test_pagerank_hand_graph(spark):
    """3-node chain a->b->c plus a->c: b gets half of a's mass, c gets
    the other half plus all of b's."""
    edges = [("a", "b"), ("a", "c"), ("b", "c")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.rank_q for r in pagerank_integer(df, iters=2).collect()}
    assert got == _py_pagerank(edges, 2)
    # sinks accumulate, pure sources decay to base-of-base
    assert got["c"] > got["b"] > got["a"]


@pytest.mark.parametrize("iters", [0, 1, 3])
def test_pagerank_matches_reference_simulation(spark, iters):
    """Exact equality with the Python integer simulation on a seeded
    random digraph with duplicate edges (deduped), a sink, and a
    disconnected pair."""
    import random

    rng = random.Random(11)
    edges = [
        (f"n{rng.randrange(12)}", f"n{rng.randrange(12)}")
        for _ in range(60)
    ]
    edges += edges[:5]                      # duplicates must not double-count
    edges += [("iso1", "iso2")]             # disconnected component
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r.node: r.rank_q
        for r in pagerank_integer(df, iters=iters).collect()
    }
    assert got == _py_pagerank(edges, iters)


def test_pagerank_rejects_negative_iters(spark):
    df = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with pytest.raises(ValueError):
        pagerank_integer(df, iters=-1)


# ------------------------------------------------------ label propagation

def _py_label_prop(edges, iters):
    und = set()
    for a, b in edges:
        und.add((a, b))
        und.add((b, a))
    nodes = {a for a, _ in und}
    lbl = {n: n for n in nodes}
    for _ in range(iters):
        nxt = {}
        for n in nodes:
            nbrs = [lbl[b] for a, b in und if a == n]
            nxt[n] = min([lbl[n]] + nbrs)
        lbl = nxt
    return lbl


def test_label_propagation_hand_graph(spark):
    from big_data_validator_spark.operators.graph import (
        label_propagation_min,
    )

    # two components: {a,b,c} path and {x,y}; after 1 round b has seen
    # a but c has only seen b; after 2 rounds c converges
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    df = spark.createDataFrame(edges + [(b, a) for a, b in edges], ["src", "dst"])
    one = {r.node: r.label for r in label_propagation_min(df, iters=1).collect()}
    assert one == {"a": "a", "b": "a", "c": "b", "x": "x", "y": "x"}
    two = {r.node: r.label for r in label_propagation_min(df, iters=2).collect()}
    assert two == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


@pytest.mark.parametrize("iters", [0, 1, 3])
def test_label_propagation_matches_reference(spark, iters):
    from big_data_validator_spark.operators.graph import (
        label_propagation_min,
    )

    import random

    rng = random.Random(13)
    nodes = [f"n{i:02d}" for i in range(30)]
    edges = list(
        {
            (rng.choice(nodes), rng.choice(nodes))
            for _ in range(45)
        }
    )
    edges = [(a, b) for a, b in edges if a != b]
    und = list({e for a, b in edges for e in [(a, b), (b, a)]})
    df = spark.createDataFrame(und, ["src", "dst"])
    got = {
        r.node: r.label
        for r in label_propagation_min(df, iters=iters).collect()
    }
    assert got == _py_label_prop(edges, iters)


# ------------------------------------------------------ triangle counts

def _py_triangles(edges):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {}
    for a, b in und:
        for c in adj[a] & adj[b]:
            for n in (a, b, c):
                counts[n] = counts.get(n, 0) + 1
    # each triangle found 3 times (once per edge)
    return {n: c // 3 for n, c in counts.items() if c}


def test_triangle_counts_hand_and_random(spark):
    from big_data_validator_spark.operators.graph import triangle_counts

    # K4 minus one edge: two triangles sharing an edge; a pendant and a
    # self-loop and a duplicate/reversed edge must all be ignored
    edges = [
        (1, 2), (2, 3), (1, 3), (1, 4), (2, 4),
        (2, 1), (3, 3), (4, 5),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}

    import random

    rng = random.Random(29)
    nodes = list(range(40))
    redges = list({
        tuple(sorted((rng.choice(nodes), rng.choice(nodes))))
        for _ in range(220)
    })
    df2 = spark.createDataFrame(redges, ["src", "dst"])
    got2 = {r.node: r.n_triangles for r in triangle_counts(df2).collect()}
    assert got2 == _py_triangles(redges)


def test_triangle_counts_star_hub_has_none(spark):
    """A pure hub (star graph) has no triangles — and the degree-ordered
    orientation means the hub's wedges are never enumerated from the
    hub itself (every edge points INTO it)."""
    from big_data_validator_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(
        [(0, i) for i in range(1, 50)], ["src", "dst"]
    )
    assert triangle_counts(df).count() == 0
