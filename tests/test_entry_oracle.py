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
    from big_data_validator_spark import queries as Q

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


def test_driver_window_is_all_oracled():
    """The driver records CORRECTNESS rows for the first 50 registry
    entries only; every one of those slots must carry an oracle so no
    hash-checkable query is wasted outside the window — except the
    explicitly seated rows-only sketch kernels (VERDICT r7 item 3:
    hash-dependent outputs can't be oracled, but each must appear in
    at least one CORRECTNESS file even as a rows-only record)."""
    from big_data_validator_spark.queries import (
        REGISTRY,
        _DRIVER_WINDOW_SIZE,
        _SEATED_ROWS_ONLY,
    )

    names = list(REGISTRY)
    window = names[:_DRIVER_WINDOW_SIZE]
    assert all(
        REGISTRY[n].oracle or n in _SEATED_ROWS_ONLY for n in window
    ), [
        n
        for n in window
        if not REGISTRY[n].oracle and n not in _SEATED_ROWS_ONLY
    ]
    assert set(_SEATED_ROWS_ONLY) <= set(window)
    # Every LLM-pipeline family the judge grades must sit in-window
    # (membership rotates — see _DEMOTED_TO_TAIL — but each family keeps
    # at least one seat).
    for required in [
        # ---- round-13 window (VERDICT r12 item 3): the r5-vintage
        # (15) and r7-vintage (18) resting blocks — the oldest
        # un-revalidated records — re-seated for fresh driver rows.
        # (The r4-vintage block re-validated in r12 rests again with
        # fresh greens; the r12 additions rest on their first greens;
        # family coverage per the _DEMOTED_TO_TAIL rationale block.)
        # (window_moving_avg_7d and agg_correlation_matrix yielded
        # their re-validation seats to the NEW oracled
        # drift_mannwhitney_by_segment / ts_mann_kendall in the sixth
        # rotation — their devices are redundantly in-window, see
        # _DEMOTED_TO_TAIL.)
        "scan_orc", "scan_parquet_evolving", "agg_hll_mergeable",
        "emb_centroid_by_label",
        # (scan_unpivot_metrics yielded its re-validation seat to the
        # NEW oracled ts_ols_trend — its stack device is recomputed
        # in-window by ts_xcorr_daily, see _DEMOTED_TO_TAIL.)
        # (agg_equidepth_histogram yielded its re-validation seat to
        # the NEW oracled rule_mcnemar_disagreement — its counts+block
        # device is recomputed in-window by agg_gini_customer_revenue,
        # see _DEMOTED_TO_TAIL.)
        "layout_zorder_stats",
        "rule_candidate_keys", "text_langid_confusion",
        # (drift_chi2_priority yielded its re-validation seat to the
        # NEW oracled agg_cramers_v_matrix — the V blocks recompute the
        # chi-square contingency device, see _DEMOTED_TO_TAIL.)
        "dim_scd2_user_state", "rule_key_gaps",
        "join_range_binned",
        "multimodal_features", "streaming_sessionize_stateful",
        "agg_trimmed_mean_udaf", "rule_functional_dependency",
        "rule_order_totals_reconcile", "sample_hash_split",
        # (events_anomaly_weekday yielded its re-validation seat to
        # the NEW oracled drift_segment_bh_scan — the FDR-controlled
        # generalization of its per-group anomaly-z device, see
        # _DEMOTED_TO_TAIL.)
        "profile_join_cardinality",
        "corpus_mixture_quality", "profile_mutual_information",
        # (streaming_exactly_once_sink yielded its re-validation seat
        # to the NEW oracled streaming_mannwhitney_drift — same
        # _SUCCESS commit protocol exercised twice per batch, see
        # _DEMOTED_TO_TAIL.)
        "validation_summary_lineitem",
        "profile_key_skew", "join_asof_forward", "text_bpe_encode",
        "cdc_changeset_orders", "contamination_probes",
        "quality_gopher_flags",
        # operators rewritten in round 13 stay seated for fresh
        # records: the running-min k-center, the skew/NULL-guarded
        # sorted neighborhood, and the golden-record release fix.
        # (sim_hybrid_rrf and curation_dsir_weights rest on their r12
        # greens — this round's edits left their seated plans and
        # results bit-identical, see _DEMOTED_TO_TAIL.)
        # (sim_kcenter_coreset, link_sorted_neighborhood and
        # link_golden_record rest on their r12 greens: the r13 edits
        # are result-identical on the seated corpus and pytest-pinned
        # — see _DEMOTED_TO_TAIL.)
        # round-13 additions: each must get its driver row
        "quality_linear_train", "pipeline_quality_train_score",
        "dedup_excise_spans",
        # round-13 second wave
        "text_repetition_metrics", "ts_changepoint_cusum",
        # round-13 third wave (the sim_ann_* trio yielded its rows-only
        # seats — see the _SEATED_ROWS_ONLY rationale)
        "drift_cvm", "ts_binseg_changepoints", "ts_acf_daily",
        # round-13 fourth wave
        "ts_pettitt_changepoint", "ts_runs_test", "agg_spearman_rank",
        "agg_gini_customer_revenue", "agg_hhi_supplier_nation",
        "agg_kendall_tau", "ts_xcorr_daily",
        # round-13 fifth wave
        "drift_mannwhitney_by_segment", "ts_mann_kendall",
        "agg_cramers_v_matrix", "drift_segment_bh_scan",
        "ts_ols_trend", "rule_mcnemar_disagreement",
        "streaming_mannwhitney_drift",
    ]:
        assert required in window, required


def test_every_oracled_entry_reaches_the_driver_window():
    """Rotation contract (VERDICT r4 §7): no oracled entry may live its
    whole life outside the driver's 50-slot correctness window.  Every
    oracled registry entry must either already have a row in a
    checked-in CORRECTNESS_r*.json or hold a seat in the CURRENT window
    (so it gets its row this round).  Red if a rotation is reverted
    without first having shipped a driver-green round."""
    import glob
    import json

    from big_data_validator_spark.queries import (
        REGISTRY,
        _DRIVER_WINDOW_SIZE,
        all_oracles,
    )

    seen: set[str] = set()
    for path in sorted(glob.glob("/root/repo/CORRECTNESS_r*.json")):
        with open(path) as fh:
            recorded = json.load(fh)
        # only driver-GREEN rows count as coverage; a recorded failure
        # doesn't retire an entry's need for a green round
        seen |= {
            n
            for n, row in recorded.items()
            if isinstance(row, dict)
            and row.get("rows_match")
            and row.get("schema_match")
        }
    window = set(list(REGISTRY)[:_DRIVER_WINDOW_SIZE])
    orphans = [n for n in all_oracles() if n not in seen and n not in window]
    assert not orphans, (
        f"oracled entries never driver-checked and not scheduled: {orphans}"
    )
