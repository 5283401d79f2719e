"""Deterministic sampling/splitting operators (training-pipeline surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_validator_spark.operators import sampling as S


def _corpus(spark, n=2000):
    return spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("stratum")
    )


def test_hash_split_disjoint_and_covering(spark):
    df = _corpus(spark)
    split = S.hash_split(df, "doc_id", [0.8, 0.1, 0.1])
    counts = {
        r["split"]: r["n"]
        for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {0, 1, 2}
    assert sum(counts.values()) == 2000  # covering
    assert abs(counts[0] / 2000 - 0.8) < 0.05
    # disjointness is structural (one column), determinism mirrors sample
    again = S.hash_split(df, "doc_id", [0.8, 0.1, 0.1])
    assert split.exceptAll(again).count() == 0


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        weights=st.lists(
            st.floats(min_value=0.01, max_value=10.0, allow_nan=False),
            min_size=2,
            max_size=6,
        )
    )
    @settings(max_examples=20, deadline=None)
    def test_hash_split_property_disjoint_covering(spark_session_holder, weights):
        """For ANY positive weight vector: every row lands in exactly one
        split, split ids cover 0..n-1 only, and the assignment is a pure
        function of the key (rerun-identical)."""
        spark = spark_session_holder
        from big_data_validator_spark.operators import sampling as SS

        df = spark.range(500).select(F.col("id").alias("doc_id"))
        out = SS.hash_split(df, "doc_id", weights).collect()
        assert len(out) == 500  # one verdict per row — covering, no dups
        assert {r["split"] for r in out} <= set(range(len(weights)))
        again = SS.hash_split(df, "doc_id", weights).collect()
        assert {(r["doc_id"], r["split"]) for r in out} == {
            (r["doc_id"], r["split"]) for r in again
        }

    @pytest.fixture(scope="module")
    def spark_session_holder(spark):
        # hypothesis re-invokes the test many times; pin the session
        # fixture once per module so examples share it
        return spark

except ImportError:  # pragma: no cover - hypothesis is baked into the env
    pass


def test_stratified_exact_sample_counts_and_determinism(spark):
    df = _corpus(spark)
    out = S.stratified_exact_sample(df, ["stratum"], k=10, key_col="doc_id")
    counts = {
        r["stratum"]: r["n"]
        for r in out.groupBy("stratum").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {i: 10 for i in range(7)}  # exactly k per stratum
    # small strata yield all their rows, never an error
    tiny = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], ["id", "s"])
    got = S.stratified_exact_sample(tiny, ["s"], k=5, key_col="id")
    assert got.count() == 3


def test_stratified_sample_plans_window_group_limit(spark):
    df = _corpus(spark)
    out = S.stratified_exact_sample(df, ["stratum"], k=10, key_col="doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_weighted_sample_dominant_weight_always_selected(spark):
    from big_data_validator_spark.operators.sampling import (
        weighted_sample_exact,
    )

    df = spark.createDataFrame(
        [(i, 1.0 if i else 1e9) for i in range(500)], "k long, w double"
    )
    got = weighted_sample_exact(df, "w", 10, "k").collect()
    assert len(got) == 10
    # w=1e9 → score u^(1/w) ≈ u^0 ≈ 1: must dominate every unit weight
    assert any(r["k"] == 0 for r in got)


def test_weighted_sample_excludes_nonpositive_and_is_deterministic(spark):
    from big_data_validator_spark.operators.sampling import (
        weighted_sample_exact,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, 2.0)], "k long, w double"
    )
    got = sorted(r["k"] for r in weighted_sample_exact(df, "w", 10, "k").collect())
    assert got == [1, 4]  # zero/negative weights never sampled; k caps soft
    again = sorted(
        r["k"]
        for r in weighted_sample_exact(
            df.repartition(7), "w", 10, "k"
        ).collect()
    )
    assert again == got  # partitioning-independent selection

    import pytest

    with pytest.raises(ValueError):
        weighted_sample_exact(df, "w", 0, "k")


def test_weighted_sample_plans_take_ordered(spark):
    from big_data_validator_spark.operators.sampling import (
        weighted_sample_exact,
    )

    df = spark.range(10_000).withColumn("w", (F.col("id") % 7 + 1).cast("double"))
    plan = weighted_sample_exact(df, "w", 50, "id")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k, never a global sort


def test_hash_split_portable_device_matches_duckdb(spark):
    """Splits are recomputable by ANY engine: DuckDB derives identical
    membership from the md5 digits; splits stay disjoint-and-covering."""
    import duckdb

    from big_data_validator_spark.operators.sampling import hash_split

    df = spark.range(0, 500).withColumnRenamed("id", "k")
    rows = hash_split(df, "k", [0.8, 0.1, 0.1], seed=7).collect()
    assert len(rows) == 500  # covering
    assert {r["split"] for r in rows} <= {0, 1, 2}
    got = {r["k"]: r["split"] for r in rows}
    want = dict(
        duckdb.connect().execute(
            """
            SELECT k, CASE WHEN b < 800000 THEN 0
                           WHEN b < 900000 THEN 1 ELSE 2 END
            FROM (SELECT range AS k,
                         CAST('0x' || substr(md5(CAST(range AS VARCHAR)
                                                 || ':7'), 1, 8)
                              AS UBIGINT) % 1000000 AS b
                  FROM range(0, 500))
            """
        ).fetchall()
    )
    assert got == want


def test_hash_split_rejects_null_keys(spark):
    """NULL keys would all collapse into one split — the same
    correlated-assignment defect shuffle_shards rejects."""
    from big_data_validator_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(1,), (None,)], "k long")
    with pytest.raises(Exception, match="NULL in key column"):
        hash_split(df, "k", [0.5, 0.5]).collect()


def test_group_leakage_split_no_straddle_vs_row_split(spark):
    """Group-keyed splitting keeps every duplicate family in ONE split
    (straddling_groups == 0 by construction); the same corpus split by
    ROW id measurably leaks — the contrast that justifies the
    operator."""
    from big_data_validator_spark.operators.sampling import (
        group_leakage_split,
        hash_split,
        split_leakage_audit,
    )

    # 40 duplicate families of 5 identical docs each
    rows = [
        (fam * 10 + i, f"text of family {fam}", 100 + fam)
        for fam in range(40)
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    docs = df.withColumn("grp", F.md5(F.encode(F.col("text"), "UTF-8")))

    grouped = group_leakage_split(docs, "grp", [0.8, 0.1, 0.1])
    g_audit = split_leakage_audit(grouped, "grp", sum_cols=["n_chars"]).collect()
    assert all(r["straddling_groups"] == 0 for r in g_audit)
    assert sum(r["n_rows"] for r in g_audit) == 200
    # family members travel together: every split's row count is 5x its
    # group count
    assert all(r["n_rows"] == 5 * r["n_groups"] for r in g_audit)

    rowwise = hash_split(docs, "doc_id", [0.8, 0.1, 0.1])
    r_audit = split_leakage_audit(rowwise, "grp").collect()
    assert r_audit[0]["straddling_groups"] > 0  # row split leaks


def test_split_leakage_audit_counts(spark):
    """Hand-built grid: sizes, group counts, sums, straddle count."""
    from big_data_validator_spark.operators.sampling import (
        split_leakage_audit,
    )

    df = spark.createDataFrame(
        [
            ("a", 0, 10), ("a", 0, 20),       # group a wholly in 0
            ("b", 0, 1), ("b", 1, 2),         # b straddles 0/1
            ("c", 1, 5),
        ],
        "grp string, split int, w long",
    )
    got = {
        r["split"]: (r["n_rows"], r["n_groups"], r["sum_w"],
                     r["straddling_groups"])
        for r in split_leakage_audit(df, "grp", sum_cols=["w"]).collect()
    }
    assert got[0] == (3, 2, 31, 1)
    assert got[1] == (2, 2, 7, 1)
