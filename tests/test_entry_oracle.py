"""Local mirror of the driver's correctness gate: run every ``queries()``
entry on Spark AND its ``oracle_sql()`` on DuckDB over the same parquet,
compare row count, column names, and order-insensitive values.

Runs at sf0.001 by default (fast); set BDV_ORACLE_SF_DIR=/root/testdata/sf0.01
to replicate the driver's exact scale.
"""

from __future__ import annotations

import math
import os
import tempfile

import duckdb
import pytest

import __spark_entry__ as E

SF_DIR = os.environ.get("BDV_ORACLE_SF_DIR", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def normalize(rows, columns):
    """Order-insensitive canonical form: sort columns by name, normalize
    numeric noise, sort rows.

    Decimals normalize to their exact ``as_tuple()`` (sign, digits,
    exponent) under a type tag of their own — NOT ``str()``.  The
    round-7 driver hash break proved the old str-fold masked real
    divergence: two engines can materialize a wide decimal as
    different Python classes (decimal128 → float64/object) or
    different scales, and a string fold of equal-looking values cannot
    catch it.  The mirror must fail wherever the driver's value-hash
    would."""
    import decimal

    idx = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm_val(v):
        if isinstance(v, bool):
            return ("b", v)
        if isinstance(v, float):
            if math.isnan(v):
                return ("f", "nan")
            return ("f", round(v, 9))
        if isinstance(v, int):
            return ("i", v)
        if isinstance(v, decimal.Decimal):
            return ("d", v.as_tuple())
        return ("s", str(v))

    return sorted(tuple(norm_val(r[i]) for i in idx) for r in rows)


ORACLES = E.oracle_sql()
ALL_QUERIES = E.queries()


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert df.columns == ["rule_name", "violation_count"]


#: Oracles whose constants are pinned at the driver's sf0.01 (deterministic
#: seeds over fixed testdata).  At other scales the full compare is replaced
#: by the scale-free invariant (full-probe IVF == brute force exactly).
SF_PINNED = {"sim_ann_recall"}


def _assert_no_decimal_output(name, schema):
    """Hash-discipline pin (VERDICT r7 §What's-wrong 1): no oracled
    entry may SHIP a DecimalType column.  Every historically
    driver-green entry ships BIGINT/DOUBLE/VARCHAR/DATE/BOOL; the only
    three DECIMAL(38,x) outputs ever shipped (agg_incremental_totals,
    streaming_incremental_mv, ts_twap_daily, round 7) all failed the
    driver's value-hash with rows+schema green — decimal128
    canonicalization diverges between the two engines' materialization
    layers.  Exact money/weighted math stays DECIMAL *internally* and
    ships integer units in BIGINT (cdc_apply_changeset's deci-cents,
    _mv_total_micro, the TWAP num_qus guard)."""
    from pyspark.sql.types import DecimalType

    offenders = [
        f.name for f in schema.fields if isinstance(f.dataType, DecimalType)
    ]
    assert not offenders, (
        f"{name}: shipped DecimalType columns {offenders} — convert to "
        "integer-unit BIGINT (see _mv_total_micro / cdc deci-cents)"
    )


def _stage_streaming_inputs(spark):
    """Mint the session-memoised staged sources of the streaming entries.
    They are input data by design and outlive a call, so they are staged
    before the temp-root leak check below starts watching."""
    from big_data_validator_spark.queries import streaming as Q

    for stage in (
        Q._mv_delta_stream_source, Q._metrics_stream_source,
        Q._drift_stream_source, Q._scd2_stream_source,
        Q._kll_group_stream_source, Q._markov_stream_source,
        Q._lo_attrib_sources,
    ):
        stage(spark, SF_DIR)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name, tmp_path, monkeypatch):
    if name in SF_PINNED and not SF_DIR.rstrip("/").endswith("sf0.01"):
        rows = {r["method"]: r for r in ALL_QUERIES[name](spark, SF_DIR).collect()}
        assert rows["ivf_full_probe"]["recall"] == 1.0, rows
        assert rows["ivf_full_probe"]["hits"] == 50, rows
        assert set(rows) == {"ivf_full_probe", "ivf_nprobe4", "lsh"}
        return
    streaming = name.startswith("streaming_")
    if streaming:
        # a bounded drain deletes its temp root, and it must collect its
        # result first: the rows below are read after the root is gone
        _stage_streaming_inputs(spark)
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sdf = ALL_QUERIES[name](spark, SF_DIR)
    _assert_no_decimal_output(name, sdf.schema)
    spark_rows = sdf.collect()
    spark_cols = sdf.columns
    if streaming:
        assert os.listdir(tmp_path) == [], f"{name} left temp entries"

    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(c.lower() for c in spark_cols) == sorted(
        c.lower() for c in duck_cols
    ), f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    got = normalize([list(r) for r in spark_rows], [c.lower() for c in spark_cols])
    want = normalize([list(r) for r in duck_rows], [c.lower() for c in duck_cols])
    mismatches = [
        (g, w) for g, w in zip(got, want) if g != w
    ]
    assert got == want, f"{name}: first mismatches {mismatches[:3]}"


@pytest.mark.parametrize("name", sorted(set(ALL_QUERIES) - set(ORACLES)))
def test_oracle_less_query_runs(spark, name):
    """Rows-only check for non-SQL-expressible queries (same as driver)."""
    sdf = ALL_QUERIES[name](spark, SF_DIR)
    assert len(sdf.columns) > 0
    assert sdf.count() >= 0


def test_driver_order_follows_last_counting_record():
    """driver_order on an injected history: entries without a counting
    record lead, recorded oracled entries follow least recently green
    first (ties in REGISTRY order), recorded rows-only entries come last,
    and a hash-red record does not count as green."""
    from big_data_validator_spark.queries import REGISTRY, driver_order

    a, b, c, weak_only, never = [n for n, s in REGISTRY.items() if s.oracle][:5]
    rows_old, rows_new, rows_failed, rows_never = [
        n for n, s in REGISTRY.items() if not s.oracle
    ][:4]
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 3}
    weak = dict(green, hash_match=False)
    rows = {"rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": 3}
    history = {
        a: [(2, green), (7, weak)],
        b: [(5, green)],
        c: [(2, green)],
        weak_only: [(3, weak)],
        rows_old: [(1, rows)],
        rows_new: [(9, rows)],
        rows_failed: [(4, dict(rows, spark_rows=-1))],
    }
    order = driver_order(history)
    assert sorted(order) == sorted(REGISTRY)
    assert order[-5:] == [a, c, b, rows_old, rows_new]
    for name in (never, weak_only, rows_failed, rows_never):
        assert order.index(name) < len(order) - 5, name


def test_registering_a_name_twice_raises():
    """A copied entry cannot silently replace the one it copied."""
    from big_data_validator_spark.queries import REGISTRY, query

    name = next(iter(REGISTRY))
    spec = REGISTRY[name]
    with pytest.raises(ValueError, match=name):
        query(name)(lambda spark, sf_dir: None)
    assert REGISTRY[name] is spec


def test_every_oracled_entry_reaches_the_driver_window():
    """Rotation contract (VERDICT r4 §7): no oracled entry may live its
    whole life outside the driver's 50-slot correctness window.  Every
    oracled registry entry must either already have a row in a
    checked-in CORRECTNESS_r*.json or hold a seat in the CURRENT window
    (so it gets its row this round).  Red if a rotation is reverted
    without first having shipped a driver-green round."""
    from big_data_validator_spark.queries import (
        _DRIVER_WINDOW_SIZE,
        all_oracles,
        all_queries,
        correctness_history,
    )

    # only driver-GREEN rows count as coverage; a recorded failure
    # doesn't retire an entry's need for a green round
    seen = {
        n
        for n, recs in correctness_history().items()
        if any(row.get("rows_match") and row.get("schema_match") for _, row in recs)
    }
    window = set(list(all_queries())[:_DRIVER_WINDOW_SIZE])
    orphans = [n for n in all_oracles() if n not in seen and n not in window]
    assert not orphans, (
        f"oracled entries never driver-checked and not scheduled: {orphans}"
    )
