"""Declared-type / format / nullability enforcement.

The reference *declares* ``SourceDataType`` / ``SourceDataFormat`` /
``SourceNullable`` in its metadata (``metadata_csv_to_json.py:33-37``) but
never reads them back in any validation path (grep-verified, SURVEY.md §1).
This module completes that declared-but-unimplemented contract (SURVEY.md §7
P2): every column's declarations compile to one boolean SQL expression, and
the runner evaluates all columns' checks with one ``selectExpr`` inside the
same single aggregation pass.

The checks are SQL text, not ``Column`` builders: a ``Column`` costs about a
dozen py4j round trips per column on the driver before Spark runs anything,
while a string costs none until the one ``selectExpr`` call parses them all.

All casts use ``try_``-style expressions so the checks behave identically
under ANSI mode (Spark 4 default) — a failed parse yields NULL, which is the
violation signal, instead of failing the job.
"""

from __future__ import annotations

from big_data_validator_spark.contract import ColumnSpec, TableContract


def quote_ident(name: str) -> str:
    """A column name as a SQL identifier: backtick-quoted, with embedded
    backticks doubled, so spaces, dots and backticks stay part of the name."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """A SQL string literal.  Backslashes and single quotes are escaped for
    Spark's default parser, so a date format such as ``yyyy-MM-dd'T'HH:mm``
    keeps its quoted ``'T'``."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def column_violation_sql(spec: ColumnSpec, contract: TableContract) -> str:
    """One boolean SQL expression, true when a row violates any of the
    column's declarations; ``false`` when nothing is declared.

    - ``NULLABLE=FALSE``: NULL, or empty after trimming spaces (empty is
      what NULL looks like in delimited text).
    - ``NUMBER``: a non-empty value that does not parse as a double after
      trimming, with the contract's ``DecimalSeparator`` read as ``.``.
    - ``DATE``: a non-empty value that does not parse with the declared
      format (e.g. ``dd/MM/yyyy``, as in the reference's shipped contract),
      or with Spark's default timestamp parsing when none is declared.
    """
    c = quote_ident(spec.name)
    present = f"{c} IS NOT NULL AND trim({c}) != ''"
    checks = []
    if not spec.nullable:
        checks.append(f"{c} IS NULL OR trim({c}) = ''")
    kind = spec.source_type.upper()
    if kind == "NUMBER":
        number = f"trim({c})"
        sep = contract.decimal_separator
        if sep and sep != ".":
            number = f"replace({number}, {sql_string(sep)}, '.')"
        checks.append(f"{present} AND try_cast({number} AS DOUBLE) IS NULL")
    elif kind == "DATE":
        fmt = f", {sql_string(spec.source_format)}" if spec.source_format else ""
        checks.append(f"{present} AND try_to_timestamp({c}{fmt}) IS NULL")
    return " OR ".join(f"({check})" for check in checks) or "false"


def contract_violation_sql(
    contract: TableContract, columns: list[str]
) -> dict[str, str]:
    """Violation expression per contract column present in ``columns``
    (matched case-insensitively, like Spark's default resolution), keyed by
    the contract's column name.  The runner counts these in ONE aggregation
    pass — not one job per column."""
    present = {c.upper() for c in columns}
    return {
        spec.name: column_violation_sql(spec, contract)
        for spec in contract.columns
        if spec.upper_name in present
    }
