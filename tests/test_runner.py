"""End-to-end validation runs replaying the reference's fixture behaviors
(FIXTURES.md §A): pass case, column-typo fail case, type-enforcement case,
escalation on unbalanced quotes, failure sink on genuinely bad rows."""

from __future__ import annotations

import gzip
import json
import os
from contextlib import contextmanager

import pytest

from big_data_validator_spark import runner as runner_module
from big_data_validator_spark.contract import ColumnSpec, TableContract
from big_data_validator_spark.report import ValidationError
from big_data_validator_spark.runner import RunnerConfig, ValidationRunner
from big_data_validator_spark.sources.csv_source import probe_header, read_local_header


def make_contract(**kw):
    defaults = dict(
        columns=[
            ColumnSpec("ID", "VARCHAR2"),
            ColumnSpec("NAME", "VARCHAR2"),
            ColumnSpec("SURNAME", "VARCHAR2"),
            ColumnSpec("BIRTH_DATE", "DATE", "d/M/yyyy"),
        ],
        field_separator="|",
        string_separator='""""',
    )
    defaults.update(kw)
    return TableContract(**defaults)


def test_pass_case_with_escalation_embedded_newline(spark, tmp_path):
    """An embedded newline inside a quoted field splits the raw line scan
    into two short lines (count mismatch), but the multiLine CSV parser
    accepts it → overall pass via escalation (reference fallback
    big_data_validator.py:198-205; docstring :119-122 names exactly this
    case as the reason the fallback exists)."""
    p = tmp_path / "PERSON.csv"
    p.write_text(
        '"ID"|"NAME"|"SURNAME"|"BIRTH_DATE"\n'
        '"1001"|"Ada"|"Lovelace"|"10/12/1815"\n'
        '"1002"|"Multi\nline"|"Turner"|"23/1/2002"\n'
    )
    contract = make_contract(
        columns=[
            ColumnSpec("ID"),
            ColumnSpec("NAME"),
            ColumnSpec("SURNAME"),
            ColumnSpec("BIRTH_DATE"),
        ]
    )
    report = ValidationRunner(spark).validate_csv("PERSON", str(p), contract)
    assert report.ok, report.to_json()
    by_rule = {r.rule: r for r in report.results}
    assert by_rule["column_names"].passed
    assert by_rule["field_count_quoted"].passed
    assert by_rule["field_count_quoted"].details.get("escalated") is True


def test_unbalanced_quote_fails_via_csv_parser(spark, person_csv, tmp_path):
    """The unbalanced-quote fixture row miscounts (3≠4) AND is rejected by
    the CSV parser (the stray quote glues SURNAME to the rest of the line,
    leaving BIRTH_DATE unset) → validation fails and the bad row lands in
    the parquet failure sink."""
    runner = ValidationRunner(
        spark, RunnerConfig(failure_base_dir=str(tmp_path / "sink"))
    )
    report = runner.validate_csv("PERSON", person_csv, make_contract())
    assert not report.ok
    by_rule = {r.rule: r for r in report.results}
    assert by_rule["field_count_quoted"].details.get("escalated") is True
    assert report.failure_sink_path is not None
    sunk = spark.read.parquet(report.failure_sink_path)
    assert sunk.count() == 1


def test_column_typo_fails(spark, person_csv):
    """Expected column BIRH_DATE (typo) absent from header → names rule
    fails (superset semantics, reference :53-74)."""
    contract = make_contract(
        columns=[
            ColumnSpec("ID"),
            ColumnSpec("NAME"),
            ColumnSpec("SURNAME"),
            ColumnSpec("BIRH_DATE"),
        ]
    )
    report = ValidationRunner(spark).validate_csv("PERSON", person_csv, contract)
    assert not report.ok
    names = {r.rule: r for r in report.results}["column_names"]
    assert names.details["missing"] == ["BIRH_DATE"]
    with pytest.raises(ValidationError):
        report.raise_on_failure()


def test_extra_actual_columns_pass(spark, tmp_path):
    """Superset tolerance: extra actual columns pass silently."""
    p = tmp_path / "T.csv"
    p.write_text("A|B|C\n1|2|3\n")
    contract = TableContract(
        columns=[ColumnSpec("A"), ColumnSpec("B")], field_separator="|"
    )
    report = ValidationRunner(spark).validate_csv("T", str(p), contract)
    names = {r.rule: r for r in report.results}["column_names"]
    assert names.passed
    assert names.details["additional"] == ["C"]


def test_bad_arity_writes_failure_sink(spark, tmp_path):
    """A row with a genuinely wrong field count fails both the line rule and
    the CSV parser; bad rows land in the parquet sink."""
    p = tmp_path / "BAD.csv"
    p.write_text("A|B|C\n1|2|3\n1|2\n4|5|6\n")
    contract = TableContract(
        columns=[ColumnSpec("A"), ColumnSpec("B"), ColumnSpec("C")],
        field_separator="|",
    )
    runner = ValidationRunner(
        spark, RunnerConfig(failure_base_dir=str(tmp_path / "sink"))
    )
    report = runner.validate_csv("BAD", str(p), contract)
    assert not report.ok
    assert report.failure_sink_path is not None
    sunk = spark.read.parquet(report.failure_sink_path)
    assert sunk.count() == 1  # the arity-2 row


def test_naive_branch_without_string_separator(spark, tmp_path):
    """No StringSeparator in the contract → naive count branch
    (reference :273-278)."""
    p = tmp_path / "N.csv"
    p.write_text("A,B\n1,2\n3,4\n")
    contract = TableContract(
        columns=[ColumnSpec("A"), ColumnSpec("B")],
        field_separator=",",
        string_separator=None,
    )
    report = ValidationRunner(spark).validate_csv("N", str(p), contract)
    assert report.ok
    assert {r.rule for r in report.results} >= {"column_names", "field_count_naive"}


def test_type_enforcement_flags_bad_values(spark, tmp_path):
    """P2: NUMBER/DATE/NOT-NULL declarations are enforced (the reference
    declares them but never checks — SURVEY §1)."""
    p = tmp_path / "TYPES.csv"
    p.write_text(
        "ID|AMOUNT|DAY\n"
        "1|3,14|31/12/2020\n"
        "x|bad|99/99/9999\n"
        "|2,5|1/1/2021\n"
    )
    contract = TableContract(
        columns=[
            ColumnSpec("ID", "NUMBER", nullable=False),
            ColumnSpec("AMOUNT", "NUMBER"),
            ColumnSpec("DAY", "DATE", "d/M/yyyy"),
        ],
        field_separator="|",
        decimal_separator=",",
    )
    report = ValidationRunner(spark).validate_csv("TYPES", str(p), contract)
    te = {r.rule: r for r in report.results}["type_enforcement"]
    assert not te.passed
    per = te.details["per_column"]
    assert per["ID"] == 2      # 'x' not a number, '' violates NOT NULL
    assert per["AMOUNT"] == 1  # 'bad'
    assert per["DAY"] == 1     # 99/99/9999


@contextmanager
def job_group(spark, name):
    """Run the body under Spark job group ``name``; yields a function that
    counts the group's jobs once the listener bus has caught up."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)

    def count():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(name))

    try:
        yield count
    finally:
        sc._jsc.clearJobGroup()


def test_job_budget_per_table(spark, tmp_path):
    """One fused action per table, plus the sink write when the parser
    rejects rows: at most 3 jobs for a naive dirty table with a sink and
    at most 2 for a quoted clean one (the counts these fixtures run, so
    one extra job fails; 7 and 5 before the fusion).  A clean table
    writes no sink directory."""
    dirty = tmp_path / "DIRTY.csv"
    dirty.write_text("A|B|C\n1|2|3\n1|2\n4|5|6\n")
    contract = TableContract(
        columns=[ColumnSpec("A", "NUMBER"), ColumnSpec("B"), ColumnSpec("C")],
        field_separator="|",
    )
    runner = ValidationRunner(spark, RunnerConfig(failure_base_dir=str(tmp_path / "s1")))
    with job_group(spark, "budget-dirty") as jobs:
        report = runner.validate_csv("DIRTY", str(dirty), contract)
        assert jobs() <= 3
    assert report.run.job_group == "budget-dirty"
    assert spark.read.parquet(report.failure_sink_path).count() == 1

    clean = tmp_path / "CLEAN.csv"
    clean.write_text('"A"|"B"\n"1"|"x|y"\n"2"|"z"\n')
    contract = make_contract(
        columns=[ColumnSpec("A", "NUMBER"), ColumnSpec("B", nullable=False)]
    )
    runner = ValidationRunner(spark, RunnerConfig(failure_base_dir=str(tmp_path / "s2")))
    with job_group(spark, "budget-clean") as jobs:
        report = runner.validate_csv("CLEAN", str(clean), contract)
        assert jobs() <= 2
    assert report.ok, report.to_json()
    assert report.failure_sink_path is None
    assert not (tmp_path / "s2").exists()


def test_unchecked_contract_still_escalates_and_sinks(spark, tmp_path):
    """Every contract column is unchecked nullable VARCHAR2, so no type
    check reads a data column; the corrupt count must still come from a
    parse Spark accepts, escalate, and send the bad rows to the sink."""
    p = tmp_path / "FREE.csv"
    p.write_text("A|B|C\nx|y|z\nx|y\nx|y|z|w\nq|r|s\n")
    contract = TableContract(
        columns=[ColumnSpec("A"), ColumnSpec("B"), ColumnSpec("C")],
        field_separator="|",
    )
    runner = ValidationRunner(spark, RunnerConfig(failure_base_dir=str(tmp_path / "sink")))
    report = runner.validate_csv("FREE", str(p), contract)
    by_rule = {r.rule: r for r in report.results}
    line = by_rule["field_count_naive"]
    assert (line.passed, line.violation_count) == (False, 2)
    assert line.details["escalated"] is True
    assert by_rule["type_enforcement"].details["per_column"] == {"A": 0, "B": 0, "C": 0}
    sunk = spark.read.parquet(report.failure_sink_path)
    assert sorted(r.A + r.B for r in sunk.collect()) == ["xy", "xy"]
    assert (report.run.lines, report.run.rows) == (5, 4)


_CONTRACT_AB = TableContract(
    columns=[ColumnSpec("A", "NUMBER"), ColumnSpec("B", nullable=False)],
    field_separator="|",
)
_ESCALATED = {"lines": 4, "expected_arity": 3, "escalated": True}
_TYPES_OK = {"per_column": {"A": 0, "B": 0}}
#: name -> (file, bytes, expected results as (rule, passed, count, details)
#: with types enforced, expected sink rows).  Recorded from the runner
#: before the fused aggregation, which gives the same results.
DEGENERATE = {
    "zero_byte": ("E.csv", b"", [
        ("column_names", False, 2, {"expected": ["A", "B"], "actual": [], "missing": ["A", "B"], "additional": []}),
        ("field_count_naive", True, 0, {"lines": 0, "expected_arity": 0}),
    ], None),
    "header_only": ("H.csv", b"A|B\n", [
        ("column_names", True, 0, {"expected": ["A", "B"], "actual": ["A", "B"], "missing": [], "additional": []}),
        ("field_count_naive", True, 0, {"lines": 1, "expected_arity": 2}),
        ("type_enforcement", True, 0, _TYPES_OK),
    ], None),
    "trailing_unnamed_column": ("X.csv", b"A|B|\n1|2|\n3|4\n5|6|7|\n", [
        ("column_names", True, 0, {"expected": ["A", "B"], "actual": ["A", "B", ""], "missing": [], "additional": [""]}),
        ("field_count_naive", True, 0, _ESCALATED),
        ("type_enforcement", True, 0, _TYPES_OK),
    ], None),
    "repeated_name": ("D.csv", b"A|A|B\n1|2|3\n4|5\n", [
        ("column_names", False, 1, {"expected": ["A", "B"], "actual": ["A", "A", "B"], "missing": [], "additional": [], "duplicates": ["A"]}),
        ("field_count_naive", False, 1, {"lines": 3, "expected_arity": 3}),
    ], None),
    "gzip": ("T.csv.gz", b"A|B\n1|2\n3\nx|4\n", [
        ("column_names", True, 0, {"expected": ["A", "B"], "actual": ["A", "B"], "missing": [], "additional": []}),
        ("field_count_naive", False, 1, {**_ESCALATED, "expected_arity": 2}),
        ("type_enforcement", False, 2, {"per_column": {"A": 1, "B": 1}}),
    ], 1),
}


@pytest.mark.parametrize("enforce_types", [True, False])
@pytest.mark.parametrize("case", sorted(DEGENERATE))
def test_degenerate_inputs(spark, tmp_path, monkeypatch, case, enforce_types):
    """Empty, header-only, trailing-separator, repeated-name and gzip
    inputs give the reference runner's results without raising.  Only the gzip file's
    header goes through Spark's reader; the others are read on the driver."""
    name, data, expected, sink_rows = DEGENERATE[case]
    path = tmp_path / name
    path.write_bytes(gzip.compress(data) if name.endswith(".gz") else data)
    probes = []
    monkeypatch.setattr(
        runner_module, "probe_header", lambda *a: probes.append(a) or probe_header(*a)
    )
    runner = ValidationRunner(
        spark,
        RunnerConfig(enforce_types=enforce_types, failure_base_dir=str(tmp_path / "sink")),
    )
    report = runner.validate_csv(case, str(path), _CONTRACT_AB)
    if not enforce_types:
        expected = [e for e in expected if e[0] != "type_enforcement"]
    got = [(r.rule, r.passed, r.violation_count, r.details) for r in report.results]
    assert got == expected
    assert len(probes) == (1 if name.endswith(".gz") else 0)
    sunk = report.failure_sink_path and spark.read.parquet(report.failure_sink_path).count()
    assert sunk == sink_rows


@pytest.mark.parametrize(
    "data",
    [
        b"A|B\n1|2\n",
        b"A|B\r\n1|2\r\n",
        b"A|B\r1|2\r",
        b"A|B",
        b"\xef\xbb\xbfa|b\n1|2\n",
        b"\xef\xbb\xbf",
        b"A\xff|B\n",
        b"\nA|B\n",
        b"",
    ],
)
def test_local_header_matches_spark_text_reader(spark, tmp_path, data):
    """The driver-side header read yields what ``spark.read.text`` does:
    any line ending, a dropped UTF-8 byte-order mark, U+FFFD for invalid
    UTF-8, and no header for a zero-byte file."""
    p = tmp_path / "T.csv"
    p.write_bytes(data)
    contract = TableContract(field_separator="|")
    assert read_local_header(spark, [str(p)], contract) == probe_header(spark, str(p), contract)


def test_local_header_leaves_compressed_and_many_files_to_spark(spark, tmp_path):
    contract = TableContract(field_separator="|")
    for name in ("T.csv.gz", "T.csv.bz2"):
        (tmp_path / name).write_bytes(b"")
        assert read_local_header(spark, [str(tmp_path / name)], contract) is None
    assert read_local_header(spark, ["a.csv", "b.csv"], contract) is None


def test_report_run_block(spark, tmp_path):
    """The report records what the run scanned and its job group."""
    p = tmp_path / "my table.csv"  # a space: inputFiles() percent-encodes it
    p.write_text("A|B|C\n1|2|3\n1|2\n4|5|6\n")
    contract = TableContract(
        columns=[ColumnSpec("A", "NUMBER"), ColumnSpec("B"), ColumnSpec("C")],
        field_separator="|",
    )
    runner = ValidationRunner(spark, RunnerConfig(failure_base_dir=str(tmp_path / "sink")))
    with job_group(spark, "run-block"):
        report = runner.validate_csv("T", str(p), contract)
    run = report.to_dict()["run"]
    assert run["lines"] == 4 and run["rows"] == 3
    assert run["input_bytes"] == os.path.getsize(p)
    assert run["job_group"] == "run-block"
    assert run["wall_s"] > 0
    assert json.loads(report.to_json())["run"] == run
