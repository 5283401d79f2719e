"""SemDeDup (semantic_dedup_exactint) pins — VERDICT r8 item 5:

- the integer k-means trainer is exact: truncating division (Spark
  ``div`` / DuckDB ``//`` semantics, NOT python floor), ties to the
  lowest centroid id, empty clusters carry forward;
- within-cluster-only candidate discipline: no duplicate pair ever
  crosses a cluster boundary (the capped_bucket_pairs pin transplanted
  to the semantic tier);
- keep semantics: an item is pruned iff a smaller-id within-cluster
  item exceeds the cosine threshold; representatives (cluster-minimum
  ids of each duplicate set) always survive.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from big_data_validator_spark.operators.similarity import (
    _int_d2,
    _tdiv,
    semantic_dedup_exactint,
    train_centroids_exactint,
)


def test_tdiv_matches_engine_semantics():
    import duckdb

    cases = [(-7, 2), (7, 2), (-7, -2), (7, -2), (-1, 3), (0, 5), (10, 3)]
    for a, b in cases:
        want = duckdb.sql(
            f"SELECT CAST({a} AS BIGINT) // CAST({b} AS BIGINT)"
        ).fetchone()[0]
        assert _tdiv(a, b) == want, (a, b)
    # and explicitly NOT python floor semantics
    assert _tdiv(-7, 2) == -3 != (-7 // 2)


def test_trainer_reference_parity():
    """The vectorized trainer equals a from-scratch reference that
    re-implements the documented rules independently."""
    rng = random.Random(3)
    pts = [
        (i, [rng.randint(-1000, 1000) for _ in range(4)]) for i in range(60)
    ]
    k, iters = 5, 3
    got = train_centroids_exactint(pts, k, iters=iters)

    cents = [list(qv) for _, qv in pts[:k]]
    for _ in range(iters):
        groups = {j: [] for j in range(k)}
        for _, qv in pts:
            d = [
                sum(c * c for c in cents[j])
                - 2 * sum(q * c for q, c in zip(qv, cents[j]))
                for j in range(k)
            ]
            groups[min(range(k), key=lambda j: (d[j], j))].append(qv)
        for j in range(k):
            if groups[j]:
                n = len(groups[j])
                cents[j] = [
                    _tdiv(sum(v[i] for v in groups[j]), n)
                    for i in range(4)
                ]
    assert got == cents


def test_trainer_empty_cluster_carry_and_bounds():
    # two far blobs, k=3: the third centroid (init = point 2, inside
    # blob A) empties once points re-assign; it must carry forward
    pts = [(0, [0, 0]), (1, [1, 0]), (2, [2, 0]), (3, [1000, 0]), (4, [1001, 0])]
    cents = train_centroids_exactint(pts, 3, iters=2)
    assert len(cents) == 3
    with pytest.raises(ValueError, match="empty"):
        train_centroids_exactint([], 2)


def test_trainer_overflow_guard_fails_loudly():
    """ADVICE-r10: np.int64 wraps silently, so the exactness bound
    (|component| small enough that |c|² − 2·q·c stays below 2**62)
    must be ASSERTED — an unnormalized embedding (components far
    beyond quant_scale) must raise, never produce wrong centroids."""
    big = 2**31  # dim * maxC * (maxC + 2 maxX) = 2*2^31*3*2^31 >> 2^62
    pts = [(0, [big, big]), (1, [-big, big]), (2, [big, -big])]
    with pytest.raises(ValueError, match="overflow"):
        train_centroids_exactint(pts, 2, iters=1)


def test_assign_kernel_overflow_guard_fails_loudly(spark):
    from big_data_validator_spark.operators.similarity import (
        int_assign_kernel,
    )

    big = 2**31
    kern = int_assign_kernel([[big, big], [-big, big]])
    df = spark.createDataFrame(
        [(0, [big, big])], "vec_id long, qv array<long>"
    )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    with pytest.raises((PythonException, Py4JJavaError), match="overflow"):
        df.select(kern("qv").alias("cell")).collect()


def test_within_cluster_discipline_and_keep_semantics(spark):
    """Drive the full operator on a constructed corpus with known
    duplicate structure and verify against a brute-force reference."""
    rng = random.Random(17)
    dim = 8
    base = [[rng.uniform(-0.5, 0.5) for _ in range(dim)] for _ in range(12)]
    rows = []
    vid = 0
    for b in base:
        rows.append((vid, b))
        vid += 1
        # two near-copies of every third base vector
        if vid % 3 == 0:
            for _ in range(2):
                rows.append((vid, [x * 1.001 for x in b]))
                vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup_exactint(
        df,
        dim=dim,
        num_clusters=3,
        threshold_ppm=990_000,
        train_sample=100,
    )
    got = {r["vec_id"]: (r["cell"], r["keep"]) for r in out.collect()}
    assert len(got) == len(rows)

    # brute-force reference with the same integer contract
    qs = {
        i: [math.floor(x * 100_000) for x in v] for i, v in rows
    }
    cents = train_centroids_exactint(
        sorted(qs.items()), 3, iters=2
    )
    cell = {
        i: min(range(3), key=lambda j: (_int_d2(q, cents[j]), j))
        for i, q in qs.items()
    }
    pruned = set()
    ids = sorted(qs)
    for x in ids:
        for y in ids:
            if x >= y or cell[x] != cell[y]:
                continue
            dot = sum(a * b for a, b in zip(qs[x], qs[y]))
            na2 = sum(a * a for a in qs[x])
            nb2 = sum(b * b for b in qs[y])
            if dot > 0 and dot * dot * 10**12 >= 990_000**2 * na2 * nb2:
                pruned.add(y)
    for i in ids:
        assert got[i][0] == cell[i], f"cell mismatch for {i}"
        assert got[i][1] == (i not in pruned), f"keep mismatch for {i}"
    # the constructed near-copies were actually pruned (test is live)
    assert pruned, "test corpus produced no duplicates - thresholds dead"
    # representatives survive: every pruned item has a kept smaller-id
    # duplicate in its own cluster
    for y in pruned:
        assert any(
            x < y and cell[x] == cell[y] and x not in pruned for x in ids
        )


def test_two_level_assignment_matches_two_hop_reference(spark):
    """Two-level (IVF) assignment: the Arrow kernel's cell must equal
    an independent two-hop reference — nearest NON-EMPTY supercell
    (ties to lowest scid), then nearest member centroid (ties to
    lowest cid) — and points in different supercells never share a
    cell."""
    import math as _math

    from big_data_validator_spark.operators.similarity import (
        semantic_dedup_exactint,
        train_centroids_exactint,
        two_level_assign_kernel,
    )

    rng = random.Random(29)
    dim = 6
    rows = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(dim)]) for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r["cell"]
        for r in semantic_dedup_exactint(
            df,
            dim=dim,
            threshold_ppm=990_000,
            target_cluster_size=10,
            supercell_size=3,
        ).collect()
    }

    # reference: replay the documented rules from scratch
    qs = {i: [_math.floor(x * 100_000) for x in v] for i, v in rows}
    n = len(qs)
    k0 = (n + 9) // 10
    sn = min(n, 4 * k0, 65_536)
    k = min(k0, sn)
    sample = sorted(qs.items())[:sn]
    cents = train_centroids_exactint(sample, k, iters=2)
    m = (len(cents) + 2) // 3
    sups = train_centroids_exactint(list(enumerate(cents)), m, iters=2)
    c2s = [
        min(range(len(sups)), key=lambda s: (_int_d2(cents[j], sups[s]), s))
        for j in range(len(cents))
    ]
    live = sorted(set(c2s))
    cell_of = {}
    for i, q in qs.items():
        s = min(live, key=lambda sc: (_int_d2(q, sups[sc]), sc))
        mem = sorted(j for j in range(len(cents)) if c2s[j] == s)
        cell_of[i] = min(mem, key=lambda j: (_int_d2(q, cents[j]), j))
    assert out == cell_of
    # kernel object parity too (direct, no pipeline)
    kern = two_level_assign_kernel(cents, sups, c2s)
    got = {
        r["vec_id"]: r["cell"]
        for r in spark.createDataFrame(
            [(i, q) for i, q in qs.items()], "vec_id long, qv array<long>"
        ).select("vec_id", kern(F.col("qv")).alias("cell")).collect()
    }
    assert got == cell_of
