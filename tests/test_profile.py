"""One-pass column profiler: values, schema stability, and the
single-scan plan guarantee."""

from __future__ import annotations

import pytest

from big_data_validator_spark.operators.profile import profile_table
from big_data_validator_spark.plans.inspect import shuffle_count


@pytest.fixture(scope="module")
def toy(spark):
    return spark.createDataFrame(
        [(1, 10.0, "aa"), (2, 20.0, None), (3, None, "cccc"), (3, 40.0, "b")],
        ["k", "x", "s"],
    )


def test_profile_values(spark, toy):
    got = {
        (r["column"], r["metric"]): r["value"]
        for r in profile_table(toy).collect()
    }
    assert got[("k", "row_count")] == 4.0
    assert got[("k", "null_count")] == 0.0
    assert got[("k", "distinct_count")] == 3.0
    assert got[("x", "null_count")] == 1.0
    assert got[("x", "min")] == 10.0 and got[("x", "max")] == 40.0
    assert got[("x", "mean")] == pytest.approx(70.0 / 3, abs=1e-6)
    assert got[("s", "null_count")] == 1.0
    assert got[("s", "min_length")] == 1.0
    assert got[("s", "max_length")] == 4.0
    assert got[("s", "avg_length")] == pytest.approx(7.0 / 3, abs=1e-6)


def test_profile_temporal_columns(spark):
    """DATE and TIMESTAMP columns profile to epoch-second bounds (plus
    the universal null/distinct/row metrics), with the session pinned
    UTC so wall-clock and epoch agree."""
    df = spark.sql(
        """
        SELECT * FROM VALUES
          (DATE '1995-01-01', TIMESTAMP '2001-08-01 12:30:00'),
          (DATE '2000-06-15', NULL),
          (NULL,              TIMESTAMP '1995-01-01 00:00:00')
        AS t(d, ts)
        """
    )
    got = {
        (r["column"], r["metric"]): r["value"]
        for r in profile_table(df).collect()
    }
    assert got[("d", "row_count")] == 3.0
    assert got[("d", "null_count")] == 1.0
    assert got[("d", "distinct_count")] == 2.0
    assert got[("d", "min_epoch_s")] == 788918400.0   # 1995-01-01 UTC
    assert got[("d", "max_epoch_s")] == 961027200.0   # 2000-06-15 UTC
    assert got[("ts", "null_count")] == 1.0
    assert got[("ts", "min_epoch_s")] == 788918400.0
    assert got[("ts", "max_epoch_s")] == 996669000.0  # 2001-08-01 12:30 UTC


def test_profile_schema_is_stable_and_single_pass(spark, toy):
    a = profile_table(toy, ["k"])
    b = profile_table(toy, ["k", "x", "s"])
    assert a.columns == b.columns == ["column", "metric", "value"]
    # one aggregation over one scan: profiling more columns must not add
    # shuffles (COUNT DISTINCT adds a fixed expand, not per-column scans)
    assert shuffle_count(b) <= shuffle_count(a) + 1


def test_functional_dependency_mode_and_violations(spark):
    from big_data_validator_spark.operators.profile import (
        functional_dependency_profile,
    )

    df = spark.createDataFrame(
        [
            ("a", "x"), ("a", "x"), ("a", "y"),          # mode x, 1 violation
            ("b", "z"), ("b", "z"),                       # FD holds
            ("c", "p"), ("c", "q"),                       # TIE → smaller rhs
            (None, "x"), ("d", None),                     # nulls excluded
        ],
        "lhs string, rhs string",
    )
    out = {
        r["lhs_value"]: r
        for r in functional_dependency_profile(df, "lhs", "rhs").collect()
    }
    assert set(out) == {"a", "b", "c"}
    a = out["a"]
    assert (a["n_rows"], a["n_distinct_rhs"], a["top_rhs"]) == (3, 2, "x")
    assert (a["top_rhs_rows"], a["violation_rows"], a["fd_holds"]) == (2, 1, False)
    assert out["b"]["fd_holds"] is True and out["b"]["violation_rows"] == 0
    assert out["c"]["top_rhs"] == "p"  # deterministic tie-break: smaller rhs


def test_benford_digits_complete_and_integer_extracted(spark):
    from big_data_validator_spark.operators.profile import (
        benford_first_digit,
    )

    # 1000.00 is the float-log10 trap (log10 → 2.999…): integer-space
    # extraction must yield digit 1; zero/negative rows excluded
    df = spark.createDataFrame(
        [(1000.00,), (23.45,), (2.50,), (999.99,), (0.0,), (-5.0,)],
        "v double",
    )
    rows = {r["digit"]: r for r in benford_first_digit(df, "v").collect()}
    assert sorted(rows) == list(range(1, 10))  # all digits always present
    assert rows[1]["n"] == 1          # 1000.00
    assert rows[2]["n"] == 2          # 23.45, 2.50
    assert rows[9]["n"] == 1          # 999.99
    assert rows[5]["n"] == 0          # absent digit still a row
    assert rows[5]["share"] == 0.0
    assert abs(rows[1]["expected_share"] - 0.30103) < 1e-6


# ------------------------------------------------- metrics repo / trends


def test_metrics_history_and_trend_anomaly(spark):
    """Four synthetic runs; the last one halves in volume and must be
    the only flagged (column, metric) row."""
    from big_data_validator_spark.operators.profile import (
        metrics_history,
        profile_trend_anomalies,
    )

    def run(n, base=0):
        return spark.createDataFrame(
            [(base + i, float(i % 7)) for i in range(n)],
            "k long, v double",
        )

    runs = [(0, run(1000)), (1, run(1010)), (2, run(990)), (3, run(200))]
    hist = metrics_history(runs, columns=["k"])
    assert hist.columns == ["run_id", "column", "metric", "value"]
    out = profile_trend_anomalies(hist)
    rows = {(r["run_id"], r["metric"]): r for r in out.collect()}
    # run 3 row_count: mean(1000,1010,990)=1000, std=10 → z=-80
    r3 = rows[(3, "row_count")]
    assert r3["is_anomaly"] is True
    assert r3["trailing_mean"] == 1000.0 and r3["trailing_std"] == 10.0
    assert r3["z_score"] == -80.0
    # runs 0/1 have <2 preceding observations → NULL z, never flagged
    assert rows[(0, "row_count")]["z_score"] is None
    assert rows[(1, "row_count")]["z_score"] is None
    assert rows[(0, "row_count")]["is_anomaly"] is False
    # zero-variance history (null_count constant 0) → NULL z, unflagged
    n3 = rows[(3, "null_count")]
    assert n3["z_score"] is None and n3["is_anomaly"] is False


def test_trend_anomaly_window_is_bounded_per_metric(spark):
    """The ordered window partitions by (column, metric): no global
    single-partition sort over the history."""
    from big_data_validator_spark.operators.profile import (
        profile_trend_anomalies,
    )

    hist = spark.createDataFrame(
        [(i, "c", "m", float(i)) for i in range(10)],
        "run_id long, column string, metric string, value double",
    )
    plan = (
        profile_trend_anomalies(hist)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "hashpartitioning(column" in plan.replace("#", "").lower() or \
        "hashpartitioning" in plan, plan


def test_mutual_information_extremes(spark):
    """Perfect dependency: U(B|A)=1 and MI=H(B); independence: MI=0."""
    from big_data_validator_spark.operators.profile import (
        mutual_information_profile,
    )

    # b = f(a): perfect FD, and a uniform over 4 values → H(A)=2 bits,
    # b uniform over 2 values → H(B)=1 bit, MI = H(B) = 1
    rows = [(str(i % 4), str(i % 2)) for i in range(400)]
    df = spark.createDataFrame(rows, "a string, b string")
    r = mutual_information_profile(df, "a", "b").collect()[0]
    assert r["h_a_bits"] == 2.0 and r["h_b_bits"] == 1.0
    assert r["mi_bits"] == 1.0
    assert r["u_b_given_a"] == 1.0 and r["u_a_given_b"] == 0.5
    assert r["n_rows"] == 400 and r["n_cells"] == 4

    # independent uniform columns: MI = 0 exactly on balanced counts
    rows2 = [(str(i % 2), str((i // 2) % 2)) for i in range(400)]
    df2 = spark.createDataFrame(rows2, "a string, b string")
    r2 = mutual_information_profile(df2, "a", "b").collect()[0]
    assert r2["mi_bits"] == 0.0 and r2["n_cells"] == 4

    # nulls excluded
    df3 = spark.createDataFrame(
        [("x", "1"), (None, "1"), ("y", None)], "a string, b string"
    )
    r3 = mutual_information_profile(df3, "a", "b").collect()[0]
    assert r3["n_rows"] == 1
    # single cell: zero entropy both sides → NULL uncertainty coeffs
    assert r3["u_a_given_b"] is None and r3["u_b_given_a"] is None


def test_key_skew_profile_known_distribution(spark):
    """Hand-checkable skew: keys with counts 1, 1, 2, 4 → max_share
    0.5, skew_ratio 2.0, deterministic top key."""
    from big_data_validator_spark.operators.profile import (
        key_skew_profile,
    )

    rows = (
        [(10,)] * 4 + [(20,)] * 2 + [(30,)] + [(40,)] + [(None,)]
    )
    df = spark.createDataFrame(rows, "k long")
    r = key_skew_profile(df, "k").collect()[0]
    assert r["n_rows"] == 8 and r["n_keys"] == 4  # null excluded
    assert r["max_count"] == 4 and r["top_key"] == 10
    assert r["max_share"] == 0.5
    assert r["skew_ratio"] == 2.0  # max 4 / mean 2
    assert r["p50_count"] == 1.5

    # tie on max count breaks toward the LARGER key deterministically
    df2 = spark.createDataFrame([(1,), (1,), (2,), (2,)], "k long")
    r2 = key_skew_profile(df2, "k").collect()[0]
    assert r2["top_key"] == 2 and r2["skew_ratio"] == 1.0
    assert r2["cv"] == 0.0  # perfectly uniform


def test_join_cardinality_exact_prediction(spark):
    """The advisor's join_rows must equal the ACTUAL join output, and
    disjoint/null keys must not contribute."""
    from big_data_validator_spark.operators.profile import (
        join_cardinality_profile,
    )

    a = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (3,), (None,)], "k long"
    )
    b = spark.createDataFrame(
        [(1,), (1,), (2,), (4,), (None,)], "j long"
    )
    r = join_cardinality_profile(a, b, "k", "j").collect()[0]
    actual = a.join(b, a["k"] == b["j"]).count()
    assert r["join_rows"] == actual == 7  # 3*2 + 1*1
    assert r["rows_a"] == 5 and r["rows_b"] == 4  # nulls excluded
    assert r["n_keys_a"] == 3 and r["n_keys_b"] == 3
    assert r["n_shared_keys"] == 2
    assert r["top_key"] == 1 and r["top_key_fanout"] == 6
    assert r["amplification"] == 1.4  # 7 / max(5, 4)


def test_fd_discovery_finds_planted_dependency(spark):
    """FD discovery: a planted derived column (b = a div 2) makes a→b a
    TRUE dependency; b→a fails with the exact violating-lhs count;
    key→anything holds; counts match brute force."""
    from big_data_validator_spark.operators.profile import fd_discovery

    rows = [(i, i % 6, (i % 6) // 2, f"g{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "k long, a long, b long, g string")
    got = {
        (r["lhs"], r["rhs"]): (
            r["n_lhs_values"], r["n_pairs"], r["n_violating_lhs"], r["holds"]
        )
        for r in fd_discovery(df, ["k", "a", "b", "g"]).collect()
    }
    assert len(got) == 12
    assert got[("a", "b")] == (6, 6, 0, True)     # planted FD holds
    assert got[("b", "a")] == (3, 6, 3, False)    # every b maps to 2 a's
    assert got[("k", "a")][3] and got[("k", "g")][3]  # key determines all
    assert not got[("g", "a")][3]


def test_fd_discovery_composite_pruning_and_minimality(spark):
    """TANE level-2 (VERDICT r7 item 7): a genuinely composite FD is
    found; candidates implied by a holding single-column FD are pruned
    (absent from the output, not just marked); failing composites carry
    measured violating-lhs counts."""
    from big_data_validator_spark.operators.profile import (
        fd_discovery_composite,
    )

    # code = f(a, b) exactly; d determines a (so any {d,x} → a prunes)
    rows = [
        ("x", "1", "x#1", "dx"),
        ("x", "2", "x#2", "dx"),
        ("y", "1", "y#1", "dy"),
        ("y", "2", "y#2", "dy"),
        ("y", "2", "y#2", "dy"),
    ]
    df = spark.createDataFrame(rows, "a string, b string, code string, d string")
    out = {
        (r["lhs"], r["rhs"]): (r["holds"], r["n_violating_lhs"])
        for r in fd_discovery_composite(df, ["a", "b", "code", "d"]).collect()
    }
    # the planted composite: neither a nor b determines code alone
    assert out[("a+b", "code")] == (True, 0)
    # d → a holds as a single FD ⇒ every {d,·} → a candidate is pruned
    assert all(
        not (lhs.split("+")[0] == "d" or lhs.split("+")[1] == "d")
        or rhs != "a"
        for lhs, rhs in out
    )
    # code → a and code → b hold as singles ⇒ composites with code pruned
    assert all("code" not in lhs.split("+") or rhs == "d" or rhs not in ("a", "b") for lhs, rhs in out)
    # a failing composite is measured, not just flagged: {a,d} → b fails
    holds, viol = out[("a+d", "b")]
    assert holds is False and viol == 2  # both (x,dx) and (y,dy) map to 2 b's


# --------------------------------------------------- robust MAD rule

def test_mad_outlier_hand_values(spark):
    """Exact median (0.5-step) and MAD (0.25-step) on a hand set, and
    the flag count under |x-med| > 3*1.4826*MAD."""
    from pyspark.sql import functions as F

    from big_data_validator_spark.operators.profile import (
        robust_outlier_mad,
    )

    # values 10,12,14,16,1000 -> med 14; adev 4,2,0,2,986 -> mad 2
    rows = [("g", v) for v in [10, 12, 14, 16, 1000]]
    df = spark.createDataFrame(rows, ["grp", "v"])
    out = robust_outlier_mad(df, "grp", "v").collect()[0]
    assert out.n_rows == 5
    assert out.median_x2 == 28       # med 14
    assert out.mad_x4 == 8           # mad 2
    # threshold = 3*1.4826*2 = 8.8956 -> only 986 exceeds
    assert out.n_outliers == 1


def test_mad_survives_breakdown_where_zscore_hides(spark):
    """One colossal outlier inflates sigma enough that a clearly
    anomalous second point sits under 3 sigma — the z-score rule finds
    only 1 outlier; median/MAD flags both (50% breakdown point)."""
    from pyspark.sql import functions as F

    from big_data_validator_spark.operators.profile import (
        robust_outlier_mad,
    )

    base = [("g", 100 + (i % 7)) for i in range(60)]
    rows = base + [("g", 10_000_000), ("g", 500)]
    df = spark.createDataFrame(rows, ["grp", "v"])
    mad_out = robust_outlier_mad(df, "grp", "v").collect()[0]
    assert mad_out.n_outliers == 2
    # z-score on the same data: sigma is dominated by the 1e7 point
    stats = df.groupBy("grp").agg(
        F.avg("v").alias("mu"), F.stddev_pop("v").alias("sd")
    ).collect()[0]
    z_flagged = df.filter(
        F.abs(F.col("v") - stats.mu) > 3 * stats.sd
    ).count()
    assert z_flagged == 1  # the 500 hides under the inflated sigma


def test_spearman_rank_corr_matches_midrank_reference(spark):
    """Per-group rho == a plain-Python Pearson-on-midranks replay
    (with heavy ties), a monotone transform of x leaves rho exactly
    fixed, a wild outlier row barely moves it, and a constant column
    yields NULL."""
    import math
    import random
    from collections import Counter

    from big_data_validator_spark.operators.profile import (
        spearman_rank_corr,
    )

    def midranks(vals):
        c = Counter(vals)
        out, cum = {}, 0
        for v in sorted(c):
            cum += c[v]
            out[v] = (2 * cum - c[v] + 1) / 2.0
        return out

    def ref(xs, ys):
        mx, my = midranks(xs), midranks(ys)
        rx = [mx[v] for v in xs]
        ry = [my[v] for v in ys]
        n, sx, sy = len(rx), sum(rx), sum(ry)
        sxx = sum(r * r for r in rx)
        syy = sum(r * r for r in ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        dx, dy = n * sxx - sx * sx, n * syy - sy * sy
        if dx <= 0 or dy <= 0:
            return None
        return round(
            (n * sxy - sx * sy) / (math.sqrt(dx) * math.sqrt(dy)), 6
        )

    random.seed(13)
    rows = []
    for i in range(300):
        x = random.randint(1, 10)
        rows.append((1, float(x), float(x + random.randint(-2, 2))))
    # group 2: same xs pushed through a monotone transform (x**3)
    rows += [(2, x**3, y) for (_, x, y) in rows[:300]]
    # group 3: near-perfect relation plus ONE wild outlier row
    rows += [(3, float(i), float(i)) for i in range(50)]
    rows += [(3, 51.0, -9999.0)]
    # group 4: constant y
    rows += [(4, float(i % 7), 3.0) for i in range(25)]
    df = spark.createDataFrame(rows, "g int, x double, y double")

    by_g = {}
    for g, x, y in rows:
        by_g.setdefault(g, ([], []))
        by_g[g][0].append(x)
        by_g[g][1].append(y)
    got = {
        r["g"]: (r["n_rows"], r["spearman_rho"])
        for r in spearman_rank_corr(df, "g", "x", "y").collect()
    }
    for g, (xs, ys) in by_g.items():
        assert got[g] == (len(xs), ref(xs, ys)), g
    # monotone invariance: cube of x changes nothing
    assert got[1][1] == got[2][1]
    # robustness: one wild row costs only its own rank mass
    # (~2·n·6/(n²−1) ≈ 0.11 here; Pearson on the same rows is dragged
    # to ≈0.25 by the single −9999)
    assert got[3][1] is not None and got[3][1] > 0.85
    assert got[4][1] is None


def test_gini_concentration_matches_sorted_reference(spark):
    """gini_ppm == the textbook sorted rank-weighted formula replayed
    in Python (with tied totals, at several block widths), an
    all-equal distribution scores exactly 0, and total-zero ships
    NULL."""
    import random

    from big_data_validator_spark.operators.profile import (
        gini_concentration,
    )

    random.seed(5)
    rows = []
    for k in range(150):
        for _ in range(random.randint(1, 3)):
            rows.append((f"k{k}", random.choice([3.25, 10.0, 999.99])))
    rows += [(f"tie{i}", 42.0) for i in range(12)]  # tied totals
    df = spark.createDataFrame(rows, "k string, v double")

    tot = {}
    for k, v in rows:
        tot[k] = tot.get(k, 0) + round(v * 100)
    xs = sorted(tot.values())
    n, s = len(xs), sum(xs)
    rw = sum((i + 1) * x for i, x in enumerate(xs))
    exp = (n, s, ((2 * rw - (n + 1) * s) * 10**6) // (n * s))

    for bw in (1 << 30, 997, 5):
        r = gini_concentration(df, "k", "v", bin_width=bw).collect()[0]
        assert tuple(r) == exp, bw

    eq = spark.createDataFrame(
        [(f"k{i}", 7.5) for i in range(9)], "k string, v double"
    )
    assert gini_concentration(eq, "k", "v").collect()[0]["gini_ppm"] == 0

    z = spark.createDataFrame([("a", 0.0)], "k string, v double")
    assert gini_concentration(z, "k", "v").collect()[0]["gini_ppm"] is None


def test_hhi_by_group_shares_and_guard(spark):
    """hhi/top-share ppm match hand values (monopoly -> 10^6, k equal
    players -> 10^6/k), and a negative per-key total raises instead of
    shipping a meaningless share."""
    import pytest

    from big_data_validator_spark.operators.profile import hhi_by_group

    rows = (
        [("mono", "only", 10.0)]
        + [("quad", f"p{i}", 25.0) for i in range(4)]
        + [("skew", "big", 75.0), ("skew", "small", 25.0)]
    )
    df = spark.createDataFrame(rows, "g string, k string, v double")
    got = {
        r["g"]: (r["n_keys"], r["hhi_ppm"], r["top_share_ppm"])
        for r in hhi_by_group(df, "g", "k", "v").collect()
    }
    assert got["mono"] == (1, 1_000_000, 1_000_000)
    assert got["quad"] == (4, 250_000, 250_000)
    assert got["skew"] == (2, 562_500 + 62_500, 750_000)  # .75^2+.25^2

    neg = spark.createDataFrame(
        [("g", "a", -5.0), ("g", "b", 9.0)], "g string, k string, v double"
    )
    with pytest.raises(Exception, match="share interpretation"):
        hhi_by_group(neg, "g", "k", "v").collect()


def test_kendall_tau_b_matches_bruteforce(spark):
    """Per-group (concordant, discordant, tau_b) == the O(n^2) brute
    force under heavy ties; constant-column groups ship NULL tau with
    zero C/D mass."""
    import math
    import random
    from collections import Counter

    from big_data_validator_spark.operators.profile import kendall_tau_b

    def ref(xs, ys):
        n = len(xs)
        C = D = 0
        for i in range(n):
            for j in range(i + 1, n):
                p = ((xs[j] > xs[i]) - (xs[j] < xs[i])) * (
                    (ys[j] > ys[i]) - (ys[j] < ys[i])
                )
                if p > 0:
                    C += 1
                elif p < 0:
                    D += 1
        n0x2 = n * (n - 1)
        n1x2 = sum(t * (t - 1) for t in Counter(xs).values())
        n2x2 = sum(t * (t - 1) for t in Counter(ys).values())
        tau = None
        if n0x2 - n1x2 > 0 and n0x2 - n2x2 > 0:
            tau = round(
                (C - D)
                / (
                    math.sqrt((n0x2 - n1x2) / 2)
                    * math.sqrt((n0x2 - n2x2) / 2)
                ),
                6,
            )
        return (n, 2 * C, 2 * D, tau)

    random.seed(17)
    rows = []
    for g in (1, 2):
        for _ in range(120):
            x = random.randint(1, 5)
            y = (
                x + random.randint(-1, 1)
                if g == 1
                else random.randint(1, 4)
            )
            rows.append((g, float(x), float(y)))
    rows += [(3, 2.0, float(i % 3)) for i in range(8)]  # constant x
    df = spark.createDataFrame(rows, "g int, x double, y double")

    by_g = {}
    for g, x, y in rows:
        by_g.setdefault(g, ([], []))
        by_g[g][0].append(x)
        by_g[g][1].append(y)
    got = {
        r["g"]: (
            r["n_rows"],
            r["concordant_x2"],
            r["discordant_x2"],
            r["tau_b"],
        )
        for r in kendall_tau_b(df, "g", "x", "y").collect()
    }
    for g, (xs, ys) in by_g.items():
        assert got[g] == ref(xs, ys), g


def test_cramers_v_matrix_matches_contingency_reference(spark):
    """Every pair row equals a plain-Python chi2 (same truncating-div
    ppm identity), a derived column hits V == 1, a constant column
    ships chi2_ppm == 0 with NULL V, NULLs are pairwise-deleted, and
    <2 columns raises."""
    import random
    from collections import Counter

    import pytest

    from big_data_validator_spark.operators.profile import cramers_v_matrix

    rng = random.Random(67)
    rows = []
    for _ in range(300):
        a = rng.choice("pqr")
        b = rng.choice("uvwx")
        rows.append((a, b, a.upper(), "const"))
    rows.append((None, "u", None, "const"))     # null a: dropped in a-pairs
    rows.append(("p", None, "P", "const"))      # null b: dropped in b-pairs
    df = spark.createDataFrame(
        rows, "a string, b string, a_dup string, k string"
    )
    got = {
        (r["col_x"], r["col_y"]): r
        for r in cramers_v_matrix(df, ["a", "b", "a_dup", "k"]).collect()
    }
    assert len(got) == 6

    def ref(pairs):
        cells = Counter(pairs)
        n = sum(cells.values())
        ra = Counter()
        cb = Counter()
        for (x, y), o in cells.items():
            ra[x] += o
            cb[y] += o
        chi2ppm = sum(
            (o * o * n * 1_000_000) // (ra[x] * cb[y])
            for (x, y), o in cells.items()
        ) - n * 1_000_000
        r, c = len(ra), len(cb)
        v = (
            round((chi2ppm / 1e6 / (n * (min(r, c) - 1))) ** 0.5, 6)
            if n > 0 and min(r, c) > 1
            else None
        )
        return n, r, c, chi2ppm, v

    clean = [t for t in rows]
    for cx, cy in [("a", "b"), ("a", "a_dup"), ("a", "k"),
                   ("b", "a_dup"), ("b", "k"), ("a_dup", "k")]:
        idx = {"a": 0, "b": 1, "a_dup": 2, "k": 3}
        pairs = [
            (t[idx[cx]], t[idx[cy]])
            for t in clean
            if t[idx[cx]] is not None and t[idx[cy]] is not None
        ]
        n, r, c, chi2ppm, v = ref(pairs)
        g = got[(cx, cy)]
        assert (g["n_rows"], g["x_levels"], g["y_levels"]) == (n, r, c), (
            cx, cy, g,
        )
        assert g["chi2_ppm"] == chi2ppm, (cx, cy, g["chi2_ppm"], chi2ppm)
        if v is None:
            assert g["cramers_v"] is None
        else:
            assert abs(g["cramers_v"] - v) < 1e-9, (cx, cy, g, v)
    # the derived column is perfectly associated (same level count)
    assert got[("a", "a_dup")]["cramers_v"] == 1.0
    # the constant column: zero chi2, NULL V
    assert got[("a", "k")]["chi2_ppm"] == 0
    assert got[("a", "k")]["cramers_v"] is None

    with pytest.raises(ValueError, match="at least 2"):
        cramers_v_matrix(df, ["a"])
