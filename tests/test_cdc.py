from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_validator_spark.operators.cdc import (
    row_fingerprint,
    snapshot_changeset,
)


@pytest.fixture()
def snapshots(spark):
    current = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "b", 20.0),
            (3, None, 30.0),
            (4, "d", None),
            (5, "e", 50.0),
        ],
        "k int, s string, v double",
    )
    incoming = spark.createDataFrame(
        [
            (1, "a", 10.0),  # unchanged
            (2, "B", 20.0),  # update (string)
            (3, None, 31.0),  # update (double, null elsewhere)
            (4, "d", None),  # unchanged (null == null for diffing)
            (6, "f", 60.0),  # insert
        ],  # 5 -> delete
        "k int, s string, v double",
    )
    return current, incoming


def test_classification(spark, snapshots):
    current, incoming = snapshots
    out = snapshot_changeset(current, incoming, ["k"])
    got = {r["k"]: r["change_type"] for r in out.collect()}
    assert got == {2: "update", 3: "update", 5: "delete", 6: "insert"}


def test_default_compare_cols_are_shared_non_key(spark):
    current = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "k int, s string, only_cur string"
    )
    incoming = spark.createDataFrame(
        [(1, "a", 9), (2, "zz", 8)], "k int, s string, only_inc int"
    )
    # only `s` is shared and non-key; only_cur/only_inc must be ignored
    out = snapshot_changeset(current, incoming, ["k"])
    got = {r["k"]: r["change_type"] for r in out.collect()}
    assert got == {2: "update"}


def test_fingerprint_matches_direct_comparison(spark):
    """Hash-compare path == column-wise comparison on a value grid that
    includes nulls, empty strings, and near-miss renderings."""
    rows = [
        (i, s, v)
        for i, (s, v) in enumerate(
            [
                ("", 0.0),
                ("", None),
                (None, 0.0),
                (None, None),
                ("0.0", 0.0),
                ("x", 1.5),
                ("x ", 1.5),
                ("x", -1.5),
                ("\x00", 2.0),  # literal NUL string vs NULL cell
                (None, 2.0),
            ]
        )
    ]
    df = spark.createDataFrame(rows, "k int, s string, v double")
    # every pair (a, b): fingerprint equality must equal struct equality
    a = df.select(
        F.col("k").alias("ka"),
        F.col("s").alias("sa"),
        F.col("v").alias("va"),
        row_fingerprint([F.col("s"), F.col("v")]).alias("fpa"),
    )
    b = df.select(
        F.col("k").alias("kb"),
        F.col("s").alias("sb"),
        F.col("v").alias("vb"),
        row_fingerprint([F.col("s"), F.col("v")]).alias("fpb"),
    )
    pairs = a.crossJoin(b).select(
        (F.col("fpa") == F.col("fpb")).alias("fp_eq"),
        (
            F.col("sa").eqNullSafe(F.col("sb"))
            & F.col("va").eqNullSafe(F.col("vb"))
        ).alias("val_eq"),
    )
    assert pairs.filter(F.col("fp_eq") != F.col("val_eq")).count() == 0


def test_empty_key_and_no_compare_cols_raise(spark, snapshots):
    current, incoming = snapshots
    with pytest.raises(ValueError):
        snapshot_changeset(current, incoming, [])
    with pytest.raises(ValueError):
        snapshot_changeset(
            current.select("k"), incoming.select("k"), ["k"]
        )


def test_registry_entry_matches_duckdb(spark):
    import duckdb

    from big_data_validator_spark.queries import REGISTRY

    sf_dir = "/root/testdata/sf0.001"
    spec = REGISTRY["cdc_changeset_orders"]
    got = sorted(
        tuple(r) for r in spec.fn(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(spec.oracle).fetchall())
    assert got == want
    assert len(got) > 0


# ------------------------------------------------------------- apply/MERGE


def test_apply_changeset_roundtrip(spark, snapshots):
    """MERGE invariant: applying snapshot_changeset(current, incoming)
    to current reproduces incoming exactly."""
    from big_data_validator_spark.operators.cdc import apply_changeset

    current, incoming = snapshots
    cs = snapshot_changeset(
        current, incoming, key_cols=["k"], include_payload=True
    )
    nxt = apply_changeset(current, cs, key_cols=["k"])
    assert sorted(map(tuple, nxt.collect())) == sorted(
        map(tuple, incoming.collect())
    )
    assert nxt.columns == current.columns


def test_apply_changeset_empty_changeset_is_identity(spark, snapshots):
    from big_data_validator_spark.operators.cdc import apply_changeset

    current, _ = snapshots
    cs = snapshot_changeset(
        current, current, key_cols=["k"], include_payload=True
    )
    assert cs.count() == 0
    nxt = apply_changeset(current, cs, key_cols=["k"])
    assert sorted(map(tuple, nxt.collect())) == sorted(
        map(tuple, current.collect())
    )


def test_apply_changeset_validates_payload_and_change_col(spark, snapshots):
    from big_data_validator_spark.operators.cdc import apply_changeset

    current, incoming = snapshots
    no_payload = snapshot_changeset(current, incoming, key_cols=["k"])
    with pytest.raises(ValueError, match="lacks payload"):
        apply_changeset(current, no_payload, key_cols=["k"])
    bad = current.withColumn("change_type", F.lit(1))
    with pytest.raises(ValueError, match="must be a string"):
        apply_changeset(current, bad, key_cols=["k"])


def test_apply_changeset_single_antijoin_plan(spark, snapshots):
    """The base is touched by exactly one anti join (delete ∪ update
    keys) plus a union — never a per-change-type re-scan."""
    from big_data_validator_spark.operators.cdc import apply_changeset

    current, incoming = snapshots
    cs = snapshot_changeset(
        current, incoming, key_cols=["k"], include_payload=True
    )
    plan = (
        apply_changeset(current, cs, key_cols=["k"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("LeftAnti") == 1, plan


def test_apply_changeset_rejects_unknown_change_type(spark, snapshots):
    """A typo'd change_type ('upsert') must fail loudly, not silently
    drop the row — the guard lives in the filter predicate so column
    pruning can't optimize it away."""
    from big_data_validator_spark.operators.cdc import apply_changeset

    current, _ = snapshots
    cs = current.limit(1).withColumn("change_type", F.lit("upsert"))
    with pytest.raises(Exception, match="unknown change_type"):
        apply_changeset(current, cs, key_cols=["k"]).collect()


def test_apply_changeset_rejects_null_change_type(spark, snapshots):
    """NULL change_type must also fail loudly: isin() returns NULL for
    NULL input, so a guard written as when(~known, raise) silently falls
    through to otherwise() and the row vanishes from BOTH the anti-join
    and upsert legs (ADVICE r6).  Reachable via external CDC feeds."""
    from big_data_validator_spark.operators.cdc import apply_changeset

    current, _ = snapshots
    cs = current.limit(1).withColumn(
        "change_type", F.lit(None).cast("string")
    )
    with pytest.raises(Exception, match="unknown change_type"):
        apply_changeset(current, cs, key_cols=["k"]).collect()


def test_incremental_group_totals_equal_full_recompute(spark):
    """Delta maintenance == full recompute for inserts, deletes,
    updates (old version subtracted, new added), group appearance
    (first key of a new group) and disappearance (count reaches 0)."""
    from decimal import Decimal

    from big_data_validator_spark.operators.cdc import (
        apply_delta_to_group_totals,
        changeset_delta_rows,
    )

    D_ = lambda x: Decimal(x)
    cur = spark.createDataFrame(
        [
            (1, "a", D_("10.000000")),
            (2, "a", D_("20.000000")),
            (3, "b", D_("5.000000")),
        ],
        "k long, g string, v decimal(18,6)",
    )
    inc = spark.createDataFrame(
        [
            (1, "a", D_("12.500000")),   # update
            (2, "a", D_("20.000000")),   # unchanged
            (4, "c", D_("7.000000")),    # insert into NEW group
        ],  # key 3 deleted → group b disappears
        "k long, g string, v decimal(18,6)",
    )
    summary = cur.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").alias("v"),
    )
    deltas = changeset_delta_rows(cur, inc, ["k"], ["g", "v"])
    got = {
        r["g"]: (r["n"], r["v"])
        for r in apply_delta_to_group_totals(
            summary, deltas, ["g"], ["v"], count_col="n"
        ).collect()
    }
    want = {
        r["g"]: (r["n"], r["v"])
        for r in inc.groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.sum("v").alias("v"))
        .collect()
    }
    assert got == want
    assert "b" not in got and got["c"][0] == 1

    # delta volume is the change rate: unchanged key 2 emits no rows
    assert deltas.filter("k = 2").count() == 0
    assert deltas.filter("k = 1").count() == 2  # -old, +new


def test_delta_rows_null_key_rows_are_present(spark):
    """ADVICE r7 (medium): presence after the full outer join must come
    from literal marker columns, not key nullability — eqNullSafe makes
    a NULL key a legitimate joinable value, so NULL-keyed updates,
    deletes, and inserts must emit delta rows like any other key."""
    from decimal import Decimal

    from big_data_validator_spark.operators.cdc import (
        apply_delta_to_group_totals,
        changeset_delta_rows,
    )

    cur = spark.createDataFrame(
        [
            (None, "a", Decimal("10.000000")),  # NULL key, updated
            (1, "a", Decimal("20.000000")),     # unchanged
            (2, "b", Decimal("5.000000")),      # NULL-keyed twin deleted
        ],
        "k long, g string, v decimal(18,6)",
    )
    inc = spark.createDataFrame(
        [
            (None, "a", Decimal("12.000000")),
            (1, "a", Decimal("20.000000")),
        ],
        "k long, g string, v decimal(18,6)",
    )
    deltas = changeset_delta_rows(cur, inc, ["k"], ["g", "v"])
    null_key = deltas.filter(F.col("k").isNull()).collect()
    # -old and +new for the NULL-keyed update
    assert sorted(r["sign"] for r in null_key) == [-1, 1]
    assert deltas.filter("k = 1").count() == 0
    assert deltas.filter("k = 2").count() == 1  # the delete

    summary = cur.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").alias("v"),
    )
    got = {
        r["g"]: (r["n"], r["v"])
        for r in apply_delta_to_group_totals(
            summary, deltas, ["g"], ["v"], count_col="n"
        ).collect()
    }
    want = {
        r["g"]: (r["n"], r["v"])
        for r in inc.groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.sum("v").alias("v"))
        .collect()
    }
    assert got == want


def test_incremental_minmax_retreat_and_passthrough(spark):
    """Affected-group MIN/MAX recompute (VERDICT r7 item 4): deleting
    the extremum holder forces a retreat the recompute answers; groups
    without deltas pass through from the stored summary WITHOUT
    touching the base (pinned by feeding the untouched group a base
    row the summary disagrees with); empty groups vanish."""
    from big_data_validator_spark.operators.cdc import (
        apply_delta_to_group_minmax,
        changeset_delta_rows,
    )

    cur = spark.createDataFrame(
        [
            (1, "a", 100), (2, "a", 5), (3, "a", 50),   # max holder: 1
            (4, "b", 7),                                  # b vanishes
            (5, "c", 9), (6, "c", 2),                     # untouched
        ],
        "k long, g string, v long",
    )
    inc = spark.createDataFrame(
        [
            (2, "a", 5), (3, "a", 50),   # key 1 deleted → max retreats
            (5, "c", 9), (6, "c", 2),    # untouched
        ],
        "k long, g string, v long",
    )
    summary = cur.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("v").alias("v_min"),
        F.max("v").alias("v_max"),
    )
    deltas = changeset_delta_rows(cur, inc, ["k"], ["g", "v"])
    # poison the untouched group in the base: passthrough must win
    poisoned = inc.withColumn(
        "v", F.when(F.col("g") == "c", F.lit(999_999)).otherwise(F.col("v"))
    )
    got = {
        r["g"]: (r["n"], r["v_min"], r["v_max"])
        for r in apply_delta_to_group_minmax(
            summary, poisoned, deltas, ["g"], ["v"], count_col="n"
        ).collect()
    }
    assert got["a"] == (2, 5, 50)        # retreat from 100 → 50
    assert "b" not in got                # group vanished
    assert got["c"] == (2, 2, 9)         # stored row, base never read

    # incremental == recompute when the base is the true new snapshot
    got2 = {
        r["g"]: (r["n"], r["v_min"], r["v_max"])
        for r in apply_delta_to_group_minmax(
            summary, inc, deltas, ["g"], ["v"], count_col="n"
        ).collect()
    }
    want = {
        r["g"]: (r["n"], r["v_min"], r["v_max"])
        for r in inc.groupBy("g").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
        ).collect()
    }
    assert got2 == want


# --------------------------------------------------- join-view IVM

def test_delta_join_view_equals_recompute(spark):
    """The bilinear identity Δ(A⋈B) = ΔA⋈B_new ∪ A_old⋈ΔB, applied
    through apply_delta_to_group_totals, lands on the same view a full
    recompute builds — including the adversarial overlap case where an
    order is DELETED in the same transition its customer MOVES groups
    (the ΔA⋈B_new and A_old⋈ΔB terms partially cancel)."""
    from big_data_validator_spark.operators.cdc import (
        apply_delta_to_group_totals,
        changeset_delta_rows,
        delta_join_view_rows,
    )

    # A: orders (okey -> ckey, v); B: customers (ckey -> grp)
    a_old = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 200), (3, 20, 300), (4, 30, 400)],
        ["okey", "ckey", "v"],
    )
    # okey 1 deleted; okey 2 value updated; okey 5 inserted (ckey 20)
    a_new = spark.createDataFrame(
        [(2, 10, 250), (3, 20, 300), (4, 30, 400), (5, 20, 500)],
        ["okey", "ckey", "v"],
    )
    b_old = spark.createDataFrame(
        [(10, "g1"), (20, "g1"), (30, "g2")], ["ckey", "grp"]
    )
    # customer 10 MOVES g1 -> g2 (while its order 1 is deleted and its
    # order 2 is updated in the same transition)
    b_new = spark.createDataFrame(
        [(10, "g2"), (20, "g1"), (30, "g2")], ["ckey", "grp"]
    )
    summary = (
        a_old.join(b_old, "ckey")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").cast("long").alias("v"),
        )
    )
    da = changeset_delta_rows(a_old, a_new, ["okey"], ["ckey", "v"])
    db = changeset_delta_rows(b_old, b_new, ["ckey"], ["grp"])
    joined = delta_join_view_rows(
        a_old=a_old.select("okey", "ckey", "v"),
        delta_a=da,
        b_new=b_new,
        delta_b=db,
        left_key="ckey",
        right_key="ckey",
    )
    got = {
        (r.grp, r.n_rows, r.v)
        for r in apply_delta_to_group_totals(
            summary, joined, ["grp"], ["v"], count_col="n_rows"
        ).collect()
    }
    want = {
        (r.grp, r.n_rows, r.v)
        for r in a_new.join(b_new, "ckey")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").cast("long").alias("v"),
        )
        .collect()
    }
    assert got == want
    # recompute: g1 = {o3:300} (o2 moved away with c10), n=1;
    #            g2 = {o2:250, o4:400, o5? no - o5 is ckey20 g1} wait:
    # o5(ckey20)->g1; so g1={o3:300,o5:500} n=2 v=800; g2={o2:250,o4:400}
    assert want == {("g1", 2, 800), ("g2", 2, 650)}


def test_delta_join_view_group_vanishes(spark):
    """A group whose every joined row disappears must vanish from the
    maintained view exactly as a recompute drops it."""
    from big_data_validator_spark.operators.cdc import (
        apply_delta_to_group_totals,
        changeset_delta_rows,
        delta_join_view_rows,
    )

    a_old = spark.createDataFrame([(1, 10, 100)], ["okey", "ckey", "v"])
    a_new = spark.createDataFrame(
        [], "okey bigint, ckey bigint, v bigint"
    )
    b = spark.createDataFrame([(10, "g1")], ["ckey", "grp"])
    summary = (
        a_old.join(b, "ckey")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").cast("long").alias("v"),
        )
    )
    da = changeset_delta_rows(a_old, a_new, ["okey"], ["ckey", "v"])
    db = changeset_delta_rows(b, b, ["ckey"], ["grp"])
    joined = delta_join_view_rows(
        a_old=a_old, delta_a=da, b_new=b, delta_b=db,
        left_key="ckey", right_key="ckey",
    )
    out = apply_delta_to_group_totals(
        summary, joined, ["grp"], ["v"], count_col="n_rows"
    ).collect()
    assert out == []


# -------------------------------------------- schema-evolution changeset

def _evolving(spark, cur_rows, cur_schema, inc_rows, inc_schema):
    from big_data_validator_spark.operators.cdc import (
        snapshot_changeset_evolving,
    )

    cur = spark.createDataFrame(cur_rows, cur_schema)
    inc = spark.createDataFrame(inc_rows, inc_schema)
    out = snapshot_changeset_evolving(cur, inc, ["k"])
    return {r["k"]: r["change_type"] for r in out.collect()}, out


def test_evolving_changeset_add_grid(spark):
    """Column ADD: non-null added data -> schema_add; all-null added
    tuple -> unchanged; a simultaneous shared-column change on the same
    key stays a plain update (data dominates)."""
    got, out = _evolving(
        spark,
        [(1, "a"), (2, "b"), (3, "c")],
        "k long, v string",
        [(1, "a", "NEW"), (2, "b", None), (3, "CHANGED", "NEW")],
        "k long, v string, extra string",
    )
    assert got == {1: "schema_add", 3: "update"}
    row = out.collect()[0]
    assert row["added_cols"] == "extra" and row["dropped_cols"] == ""


def test_evolving_changeset_drop_grid(spark):
    """Column DROP: lost non-null data -> schema_drop, lost all-null
    data -> unchanged."""
    from big_data_validator_spark.operators.cdc import (
        snapshot_changeset_evolving,
    )

    cur = spark.createDataFrame(
        [(1, "a", "HAD"), (2, "b", None)], "k long, v string, legacy string"
    )
    inc = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    out = snapshot_changeset_evolving(cur, inc, ["k"])
    got = {r["k"]: r["change_type"] for r in out.collect()}
    assert got == {1: "schema_drop"}
    assert out.collect()[0]["dropped_cols"] == "legacy"


def test_evolving_changeset_add_drop_and_data_on_same_key(spark):
    """The full grid on one snapshot pair: insert/delete untouched,
    update dominates schema_add, schema_add dominates schema_drop,
    quiet keys produce no row."""
    got, _ = _evolving(
        spark,
        [
            (1, "a", "HAD"),   # unchanged shared, lost data, gains data
            (2, "b", "HAD"),   # update + schema noise -> update
            (3, "c", None),    # unchanged shared, lost nothing, gains nothing
            (4, "d", "HAD"),   # deleted
        ],
        "k long, v string, legacy string",
        [
            (1, "a", "NEW"),
            (2, "B", "NEW"),
            (3, "c", None),
            (5, "e", "NEW"),   # inserted
        ],
        "k long, v string, extra string",
    )
    assert got == {
        1: "schema_add",   # add dominates drop
        2: "update",       # data change dominates schema notes
        4: "delete",
        5: "insert",
    }


def test_evolving_changeset_requires_shared_columns(spark):
    from big_data_validator_spark.operators.cdc import (
        snapshot_changeset_evolving,
    )

    cur = spark.createDataFrame([(1, "x")], "k long, old string")
    inc = spark.createDataFrame([(1, "y")], "k long, new string")
    with pytest.raises(ValueError, match="share no non-key"):
        snapshot_changeset_evolving(cur, inc, ["k"])


def test_scd2_history_hand_grid(spark):
    """SCD Type-2 collapse: known version grid with change, no-change,
    NULL transitions, a single-version key, and a disappearing key —
    intervals must match the contract exactly."""
    from big_data_validator_spark.operators.cdc import scd2_history

    rows = [
        # key 1: seg changes at v2, nothing at v3 -> two intervals
        (1, "A", 10, 1), (1, "B", 10, 2), (1, "B", 10, 3),
        # key 2: never changes -> one open interval
        (2, "A", 10, 1), (2, "A", 10, 2), (2, "A", 10, 3),
        # key 3: NULL -> value (change), value -> NULL (change)
        (3, None, 10, 1), (3, "C", 10, 2), (3, None, 10, 3),
        # key 4: NULL -> NULL is NOT a change
        (4, None, 5, 1), (4, None, 5, 2),
        # key 5: single version
        (5, "E", 1, 1),
        # key 6: disappears after v1 (no tombstone) -> stays open
        (6, "F", 2, 1),
    ]
    df = spark.createDataFrame(
        rows, "k long, seg string, amt long, v int"
    )
    got = {
        (r["k"], r["valid_from"]): (
            r["seg"], r["amt"], r["valid_to"], r["is_current"]
        )
        for r in scd2_history(df, ["k"], ["seg", "amt"], "v").collect()
    }
    assert got == {
        (1, 1): ("A", 10, 2, False),
        (1, 2): ("B", 10, None, True),
        (2, 1): ("A", 10, None, True),
        (3, 1): (None, 10, 2, False),
        (3, 2): ("C", 10, 3, False),
        (3, 3): (None, 10, None, True),
        (4, 1): (None, 5, None, True),
        (5, 1): ("E", 1, None, True),
        (6, 1): ("F", 2, None, True),
    }


def test_scd2_history_single_shuffle(spark):
    """Scale contract: the lag (change detection) and lead (interval
    close) windows share one (key, version) exchange — no join, no
    second pass over the input."""
    from big_data_validator_spark.operators.cdc import scd2_history
    from big_data_validator_spark.plans.inspect import shuffle_count

    df = spark.createDataFrame(
        [(i % 5, "s", i, i % 3) for i in range(60)],
        "k long, seg string, amt long, v int",
    )
    res = scd2_history(df, ["k"], ["seg", "amt"], "v")
    assert shuffle_count(res) == 1, shuffle_count(res)
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan


def test_scd2_apply_snapshot_incremental_equals_rebuild(spark):
    """The incremental form (scd2_apply_snapshot per version, in order)
    must reproduce the batch rebuild (scd2_history over the stacked
    versions) EXACTLY — on a randomized grid with NULL transitions,
    late-appearing keys, and keys that stop arriving."""
    import random as _random

    from big_data_validator_spark.operators.cdc import (
        scd2_apply_snapshot,
        scd2_history,
    )

    rng = _random.Random(41)
    segs = ["A", "B", None]
    versions = [1, 2, 3, 4]
    stacked = []
    per_version = {v: [] for v in versions}
    for k in range(30):
        first = rng.choice(versions[:2])       # some keys appear late
        last = rng.choice(versions[1:])        # some keys stop arriving
        seg, amt = rng.choice(segs), rng.randrange(5)
        for v in versions:
            if v < first or v > last:
                continue
            if rng.random() < 0.4:
                seg, amt = rng.choice(segs), rng.randrange(5)
            stacked.append((k, seg, amt, v))
            per_version[v].append((k, seg, amt))
    sdf = spark.createDataFrame(
        stacked, "k long, seg string, amt long, v int"
    )
    def norm(rows):
        return sorted(
            (tuple((x is None, x) for x in r) for r in rows),
        )

    want = norm(
        tuple(r)
        for r in scd2_history(sdf, ["k"], ["seg", "amt"], "v").collect()
    )
    hist = spark.createDataFrame(
        [],
        "k long, seg string, amt long, valid_from int, valid_to int, "
        "is_current boolean",
    )
    for v in versions:
        snap = spark.createDataFrame(
            per_version[v], "k long, seg string, amt long"
        )
        hist = scd2_apply_snapshot(hist, snap, ["k"], ["seg", "amt"], v)
    got = norm(tuple(r) for r in hist.collect())
    assert got == want


def test_scd2_apply_snapshot_date_versions(spark):
    """ADVICE-r10 regression: the incremental path derives the
    version/valid_to type from history.valid_from instead of a
    hardcoded INT — a DATE-versioned dimension (load-date snapshots,
    the common real shape) must round-trip incremental == rebuild
    with the SAME schema, no coercion."""
    import datetime as _dt

    from big_data_validator_spark.operators.cdc import (
        scd2_apply_snapshot,
        scd2_history,
    )

    d = lambda day: _dt.date(2024, 1, day)  # noqa: E731
    per_version = {
        d(1): [(1, "A"), (2, "B")],
        d(2): [(1, "A"), (2, "C"), (3, None)],
        d(3): [(1, "X"), (3, "Z")],
    }
    stacked = [
        (k, seg, v)
        for v, rows in per_version.items()
        for k, seg in rows
    ]
    sdf = spark.createDataFrame(stacked, "k long, seg string, v date")
    rebuilt = scd2_history(sdf, ["k"], ["seg"], "v")
    hist = spark.createDataFrame(
        [], "k long, seg string, valid_from date, valid_to date, "
        "is_current boolean"
    )
    for v in sorted(per_version):
        snap = spark.createDataFrame(per_version[v], "k long, seg string")
        hist = scd2_apply_snapshot(hist, snap, ["k"], ["seg"], v)
    assert [(f.name, f.dataType) for f in hist.schema] == [
        (f.name, f.dataType) for f in rebuilt.schema
    ]
    def norm(rows):
        return sorted(tuple((x is None, str(x)) for x in r) for r in rows)
    assert norm(
        tuple(r) for r in hist.collect()
    ) == norm(tuple(r) for r in rebuilt.collect())
