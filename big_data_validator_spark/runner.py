"""Validation runner: contract → rules → one fused aggregation → failure sink.

End-to-end equivalent of the reference CLI
(``spark-submit big_data_validator.py <TABLE>`` →
``BigDataValidator.validation_main``, ``big_data_validator.py:283-297``),
re-planned for Spark:

reference physical plan (per SURVEY.md §3): up to ~5 separate jobs, each
rescanning the file — ``first()`` for the header, a full RDD ``count()``
through a Python lambda for the field-count rule, then on mismatch a CSV
read + ``head(1)`` + parquet write.

this runner: the header of one local uncompressed file is read on the
driver; any other input costs a one-row probe job.  Then ONE action
aggregates the union of the line scan and a PERMISSIVE CSV parse: the line
count and field-count mismatches from the lines, the parsed-row and
corrupt-row counts and every column's type violations from the parse.
Spark runs it as a map job over both scans and a one-row result job, so a
clean table costs 2 jobs; a table whose rows the parser rejects adds the
failure-sink write.  The escalation verdict is read off the corrupt count,
so nothing is cached.  Without type enforcement the parse stays lazy: the
line aggregation runs alone, and the corrupt count runs only on a
mismatch.  No RDDs, no Python row lambdas, nothing collected but scalar
counters.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_validator_spark.contract import CORRUPT_RECORD_COL, TableContract
from big_data_validator_spark.operators import _local_input_probe
from big_data_validator_spark.operators import rules as R
from big_data_validator_spark.operators.typed import contract_violation_sql, quote_ident
from big_data_validator_spark.report import RuleResult, RunStats, ValidationReport
from big_data_validator_spark.sinks import default_failure_path, write_failures_parquet
from big_data_validator_spark.sources.csv_source import (
    probe_header,
    read_local_header,
    scan_csv_permissive,
    scan_text_lines,
)

#: Aggregates over the line leg: lines scanned, field-count mismatches.
_LINE_AGGS = ["count(_line_bad)", "count_if(_line_bad)"]
#: Aggregates over the parse leg: rows parsed, corrupt rows, the anchor.
_PARSE_AGGS = ["count(_corrupt)", "count_if(_corrupt)", "count(_anchor)"]


@dataclass
class RunnerConfig:
    enforce_types: bool = True  # SURVEY §7 P2 (reference declares, never checks)
    failure_base_dir: Optional[str] = None  # default: alongside the input
    # 100 TB sink hygiene (SURVEY §4): partition the failure sink by these
    # contract columns (e.g. a date column) so downstream triage prunes
    # partitions instead of scanning every failure ever written.  Columns
    # not present in the failing rows are ignored rather than erroring —
    # the sink must never be the reason a validation run dies.
    failure_partition_by: Optional[tuple[str, ...]] = None


class ValidationRunner:
    """Runs a contract's rules against one delimited-text table."""

    def __init__(self, spark: SparkSession, config: Optional[RunnerConfig] = None):
        self.spark = spark
        self.config = config or RunnerConfig()

    # ------------------------------------------------------------------ API

    def validate_csv(
        self, table: str, csv_path: str, contract: TableContract
    ) -> ValidationReport:
        t0 = time.perf_counter()
        report = ValidationReport(table=table)
        lines = scan_text_lines(self.spark, csv_path)
        local = _local_input_probe(lines)  # driver-side file listing, no job

        # 1. header + column-name rule (driver-side).
        actual_columns = (
            read_local_header(self.spark, local[0], contract) if local else None
        )
        if actual_columns is None:
            actual_columns = probe_header(self.spark, csv_path, contract)
        name_result = R.rule_column_names(actual_columns, contract)
        report.add(name_result)
        # A repeated header name cannot be a parse schema column, so such a
        # table gets the line-level rule only: no parse, type check or sink.
        parseable = "duplicates" not in name_result.details

        # 2. ONE action for the line-level field-count rule and, when types
        #    are enforced (the names rule passed, so the columns exist), the
        #    parse's corrupt count and declared-type checks.
        #    The reference counts the header line too (its RDD includes it,
        #    big_data_validator.py:191) — the header has the actual arity by
        #    construction, so we preserve behavior by comparing against the
        #    actual header arity, not the contract arity.
        mismatch = R.field_count_violation_expr(
            F.col("value"), contract, expected_arity=len(actual_columns)
        )
        line_leg = lines.select(mismatch.alias("_line_bad"))
        parsed = (
            scan_csv_permissive(self.spark, csv_path, contract, actual_columns)
            if parseable else None
        )
        hotfix = R.has_trailing_unnamed_column(actual_columns)
        enforce = self.config.enforce_types and name_result.passed and contract.columns
        checks = contract_violation_sql(contract, actual_columns) if enforce else {}
        flags, check_aggs = _type_flags(checks)
        rows = corrupt = None
        if enforce:
            # Parse leg first: its multiLine parse is one long task, which
            # then starts before the line scan's splits.
            fused = _parse_leg(parsed, actual_columns, flags).unionByName(
                line_leg, allowMissingColumns=True
            )
            n_lines, n_mismatch, rows, corrupt, _, *violations = _aggregate(
                fused, _LINE_AGGS + _PARSE_AGGS + check_aggs
            )
        else:
            n_lines, n_mismatch = _aggregate(line_leg, _LINE_AGGS)
            if n_mismatch and parseable and not hotfix:
                rows, corrupt, _ = _aggregate(
                    _parse_leg(parsed, actual_columns, []), _PARSE_AGGS
                )
        count_rule = "field_count_quoted" if contract.string_separator else "field_count_naive"
        line_result = RuleResult(
            rule=count_rule,
            passed=n_mismatch == 0,
            violation_count=n_mismatch,
            details={"lines": n_lines, "expected_arity": len(actual_columns)},
        )

        if n_mismatch and parseable:
            # 3. escalation: the raw line count is quote/newline-blind, so
            #    defer to the full CSV parser (reference fallback,
            #    big_data_validator.py:198-205).  The sink is written only
            #    when the parser rejected rows.
            line_result.details["escalated"] = True
            verdict = R.rule_csv_parser_verdict(corrupt or 0, actual_columns)
            if verdict.passed:
                line_result.passed, line_result.violation_count = True, 0
            else:
                sink = default_failure_path(
                    self.config.failure_base_dir or csv_path.rsplit("/", 1)[0],
                    table,
                )
                bad = R.corrupt_rows(parsed)
                part_cols = [
                    c
                    for c in (self.config.failure_partition_by or ())
                    if c in bad.columns
                ]
                write_failures_parquet(bad, sink, partition_by=part_cols or None)
                report.failure_sink_path = sink
        report.add(line_result)

        # 4. declared-type enforcement (P2), counted by the fused action.
        if enforce:
            report.add(self._type_enforcement_result(dict(zip(checks, violations))))
        report.run = self._run_stats(t0, local, lines=n_lines, rows=rows)
        return report

    # ------------------------------------------------------------- internal

    def _type_enforcement_result(self, per_column: dict[str, int]) -> RuleResult:
        total = sum(per_column.values())
        return RuleResult(
            rule="type_enforcement",
            passed=total == 0,
            violation_count=total,
            details={"per_column": per_column},
        )

    def _run_stats(self, t0: float, local, **counts) -> RunStats:
        return RunStats(
            input_bytes=local[1] if local else None,
            wall_s=time.perf_counter() - t0,
            job_group=self.spark.sparkContext.getLocalProperty("spark.jobGroup.id"),
            **counts,
        )


def _type_flags(checks: dict[str, str]) -> tuple[list[str], list[str]]:
    """Project each compiled type check to a boolean column ``_v<i>``, and
    count its violations.  Positional names keep any contract column name
    out of the aliases."""
    flags = [f"({sql}) AS _v{i}" for i, sql in enumerate(checks.values())]
    return flags, [f"count_if(_v{i})" for i in range(len(checks))]


def _parse_leg(parsed: DataFrame, columns: list[str], flags: list[str]) -> DataFrame:
    """The PERMISSIVE parse's per-row flags: corrupt, an anchor, and the
    type-check flags.

    The anchor is the first header column.  Spark refuses a raw CSV query
    that reads only the corrupt-record column
    (``QUERY_ONLY_CORRUPT_RECORD_COLUMN``), which is all a table without
    checkable columns would read; counting the anchor keeps a data column in
    the scan.  A scan that reads the corrupt-record column parses every
    column, so the corrupt count does not depend on the columns read.
    """
    return parsed.selectExpr(
        f"{CORRUPT_RECORD_COL} IS NOT NULL AS _corrupt",
        f"{quote_ident(columns[0])} AS _anchor",
        *flags,
    )


def _aggregate(df: DataFrame, aggs: list[str]) -> list[int]:
    """Evaluate single-row aggregate SQL over ``df`` in one action."""
    return [int(v or 0) for v in df.selectExpr(*aggs).collect()[0]]
