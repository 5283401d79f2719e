"""Reference-parity validation rules.

Each rule is a pure function returning either a driver-side
:class:`~big_data_validator_spark.report.RuleResult` (for schema-level rules
that act on column *lists*, not data) or Catalyst expressions / DataFrames
(for row-level rules).  The runner composes row-level rules into a single
aggregation pass — the reference runs one Spark job per rule and rescans
the file each time (SURVEY.md §3).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_validator_spark.contract import CORRUPT_RECORD_COL, TableContract
from big_data_validator_spark.functions.exprs import (
    field_count_naive,
    field_count_quoted,
)
from big_data_validator_spark.report import RuleResult


def rule_column_names(
    actual_columns: list[str], contract: TableContract
) -> RuleResult:
    """Header-vs-contract column-name conformance.

    Semantics of ``big_data_validator.py:26-74``, preserved exactly:

    - matching is case-insensitive (both sides uppercased);
    - **superset-tolerant**: extra actual columns pass silently, missing
      expected columns fail (``set.issuperset`` at ``:53``) — observable
      behavior, kept per SURVEY.md §7 hard-list item 3;
    - both set differences are reported for diagnostics (``:60-61,71-72``);
    - a name the header repeats also fails, listed under ``duplicates``:
      Spark resolves columns case-insensitively, so such a header cannot
      be a parse schema.

    Driver-side by design: it compares schema name lists, not data.
    """
    actual = [c.upper() for c in actual_columns]
    expected = contract.expected_columns_upper
    missing = sorted(set(expected).difference(actual))
    additional = sorted(set(actual).difference(expected))
    duplicates = sorted({c for c in actual if actual.count(c) > 1})
    details = {
        "expected": expected,
        "actual": actual,
        "missing": missing,
        "additional": additional,
    }
    if duplicates:
        details["duplicates"] = duplicates
    return RuleResult(
        rule="column_names",
        passed=not missing and not duplicates,
        violation_count=len(missing) + len(duplicates),
        details=details,
    )


def field_count_violation_expr(
    line: Column, contract: TableContract, expected_arity: Optional[int] = None
) -> Column:
    """Boolean expression: does this raw line have the wrong field count?

    Picks the quote-aware count when the contract declares a string
    separator, else the naive count — the same branch the reference takes at
    ``big_data_validator.py:273-278``.  Evaluates entirely inside codegen.
    """
    n = expected_arity if expected_arity is not None else contract.arity
    if contract.string_separator:
        cnt = field_count_quoted(
            line, contract.field_separator, contract.regex_quote_char
        )
    else:
        cnt = field_count_naive(line, contract.field_separator)
    return cnt != F.lit(n)


def has_trailing_unnamed_column(columns: list[str]) -> bool:
    """The reference's "hotfix": if the second-to-last read-schema field (the
    last header column, before the corrupt-record column) is named ``\"\"``
    (an unnamed trailing-delimiter column), field-count mismatches are
    ignored entirely (``big_data_validator.py:150-158``).  Quirky but real
    CSV semantics — preserved as an explicit predicate on the header."""
    return bool(columns) and columns[-1] == ""


def corrupt_rows(df: DataFrame) -> DataFrame:
    """Rows the PERMISSIVE CSV parser could not fit to the schema
    (``big_data_validator.py:160``)."""
    return df.filter(F.col(CORRUPT_RECORD_COL).isNotNull())


def rule_csv_parser_verdict(corrupt: int, columns: list[str]) -> RuleResult:
    """Escalated check: defer to Spark's quote/multiline-aware CSV parser.

    The reference falls back to this when the line-level count mismatches
    (``big_data_validator.py:198-205``), because a raw line split cannot see
    embedded newlines or separators inside quoted fields.  ``corrupt`` is
    the parser's corrupt-row count over the whole table, which the runner
    computes in the same aggregation as its other counters; ``columns`` is
    the header, for the trailing-unnamed-column hotfix.  The verdict passes
    when the hotfix applies or no row is corrupt; the runner writes the
    failure sink only when it fails.
    """
    if has_trailing_unnamed_column(columns):
        return RuleResult(
            rule="csv_parser_verdict",
            passed=True,
            details={"note": "trailing unnamed column; mismatch ignored"},
        )
    return RuleResult(
        rule="csv_parser_verdict", passed=corrupt == 0, violation_count=corrupt
    )
