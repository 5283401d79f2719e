"""The declared-type checks compiled to SQL text (``operators/typed.py``),
evaluated with one ``selectExpr`` over a DataFrame and checked against
counts worked out by hand from the check definitions."""

from __future__ import annotations

from big_data_validator_spark.contract import ColumnSpec, TableContract
from big_data_validator_spark.operators.typed import (
    column_violation_sql,
    contract_violation_sql,
    quote_ident,
    sql_string,
)


def test_identifiers_and_literals_are_quoted():
    assert quote_ident("a b") == "`a b`"
    assert quote_ident("x.y") == "`x.y`"
    assert quote_ident("we`ird") == "`we``ird`"
    assert sql_string("yyyy-MM-dd'T'HH:mm") == "'yyyy-MM-dd\\'T\\'HH:mm'"
    assert sql_string("a\\b") == "'a\\\\b'"


def test_undeclared_column_compiles_to_false():
    contract = TableContract(columns=[ColumnSpec("free")])
    assert column_violation_sql(contract.columns[0], contract) == "false"


def test_compiled_checks_match_hand_counts(spark):
    # Column names with a space, a dot and a backtick must reach the right
    # column; every value below is annotated with whether it violates.
    names = ["amount eur", "ev.ts", "we`ird", "n o", "free text"]
    rows = [
        # amount eur    ev.ts                  we`ird  n o     free text
        ("1,5",         "2024-01-31T10:15",    "x",    "7,5",  None),
        (" 2,25 ",      "2023-12-01T00:00",    " y ",  " 7 ",  ""),
        ("",            "",                    "",     "",     "  "),    # we`ird, n o
        (None,          None,                  None,   None,   "z"),     # we`ird, n o
        ("abc",         " 2024-01-31T10:15",   "   ",  "x",    "z"),     # all four
        ("1.5",         "2024-01-31 10:15",    "ok",   "1",    "z"),     # ev.ts
        ("  ",          "2024-02-30T10:15",    "ok",   "2",    "z"),     # ev.ts
        ("1,2,3",       "2024-01-31T10:15:00", "ok",   "3",    "z"),     # amount, ev.ts
    ]
    df = spark.createDataFrame(rows, "a string, b string, c string, d string, e string").toDF(*names)
    contract = TableContract(
        columns=[
            # NUMBER, nullable, ',' decimal separator: whitespace around a
            # value is trimmed, empty and NULL are not violations.
            ColumnSpec("AMOUNT EUR", "NUMBER"),
            # DATE with a quoted literal in its format; values are not
            # trimmed, and an impossible date or trailing text fails.
            ColumnSpec("ev.ts", "DATE", "yyyy-MM-dd'T'HH:mm"),
            # NOT NULL text: NULL, empty and blank violate.
            ColumnSpec("we`ird", nullable=False),
            # NOT NULL NUMBER: both checks, one count per row.
            ColumnSpec("n o", "NUMBER", nullable=False),
            ColumnSpec("free text"),
        ],
        decimal_separator=",",
    )
    checks = contract_violation_sql(contract, df.columns)
    counts = df.selectExpr(
        *[f"count_if({sql}) AS `{i}`" for i, sql in enumerate(checks.values())]
    ).first()
    assert dict(zip(checks, counts)) == {
        "AMOUNT EUR": 2,  # abc, 1,2,3
        "ev.ts": 4,  # leading space, space for T, Feb 30, trailing seconds
        "we`ird": 3,  # '', NULL, blank
        "n o": 3,  # '', NULL, x
        "free text": 0,
    }
