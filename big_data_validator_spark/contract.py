"""Metadata schema contracts.

The reference drives every validation run from a sidecar "metadata" file: a
semicolon-delimited CSV descriptor with header
``COLUMN_NAME;DATA_TYPE;STRING_SEPARATOR;FIELD_SEPARATOR;DECIMAL_SEPARATOR;NULLABLE;DATA_FORMAT``
compiled to a JSON dict (reference:
``bigDataValidator/validator/metadata_csv_to_json.py:8-44``).  Table-level
separators are taken from the FIRST data row only (``:19-23``) — later rows'
separator cells are ignored; this quirk is preserved.

This module re-expresses that contract as a first-class object that can

- parse the reference CSV format and the compiled JSON format,
- normalize the reference's known separator quirks
  (4-char ``\"\"\"\"`` string separator, ``'nan'`` sentinel — see
  ``big_data_validator.py:12-18`` and SURVEY.md §7 hard-list),
- compile to a Spark ``StructType`` (all-string read schema + corrupt-record
  column, as the reference builds at ``big_data_validator.py:97-116``), and
- compile declared types to *enforced* Spark cast expressions — the
  reference declares ``SourceDataType/SourceDataFormat/SourceNullable`` but
  never checks them (grep-verified, SURVEY.md §1); enforcement lives in
  :mod:`big_data_validator_spark.operators.typed`.
"""

from __future__ import annotations

import csv
import json
from dataclasses import dataclass, field
from typing import Iterable, Optional

from pyspark.sql.types import StringType, StructField, StructType

#: Name of the extra column PERMISSIVE-mode CSV reads use to capture rows
#: that do not fit the schema (reference ``base_data_validation.py:16``).
CORRUPT_RECORD_COL = "CorruptRecCol"


def normalize_quote(raw: Optional[str]) -> Optional[str]:
    """Normalize a contract ``StringSeparator`` to a usable quote char.

    Reference quirks handled (SURVEY.md §7 hard-list item 1 and 5):

    - the shipped contract compiles ``STRING_SEPARATOR`` cell ``\"\"\"\"`` to a
      4-char string of quotes; Spark's CSV ``quote`` option takes a single
      character, so repeated copies of one char collapse to that char.
    - the string ``'nan'`` is a pandas-NaN artifact the reference maps to a
      backslash escape (``big_data_validator.py:16-17``); we map it to
      ``None`` (= no quoting) which is what the data actually means.
    - empty string → ``None``.
    """
    if not raw or raw == "nan":
        return None
    # Repeated copies of one char collapse to it; a heterogeneous
    # multi-char separator also keeps its first char (nothing in the
    # reference corpus produces one).
    return raw[0]


@dataclass
class ColumnSpec:
    """One column of a table contract (one row of the metadata CSV)."""

    name: str
    source_type: str = "VARCHAR2"  # VARCHAR2 | NUMBER | DATE
    source_format: str = ""  # e.g. dd/MM/yyyy for DATE
    nullable: bool = True

    @property
    def upper_name(self) -> str:
        return self.name.upper()

    def to_type_mapping(self) -> dict:
        """Serialize in the reference's TypeMapping JSON shape
        (``metadata_csv_to_json.py:30-38``)."""
        return {
            "ColumnName": self.name,
            "SourceDataType": self.source_type,
            "SourceDataFormat": self.source_format,
            "SourceNullable": "TRUE" if self.nullable else "FALSE",
        }


@dataclass
class TableContract:
    """A table's schema contract: separators + per-column declarations."""

    columns: list[ColumnSpec] = field(default_factory=list)
    field_separator: str = ","
    string_separator: Optional[str] = None  # raw, as declared
    decimal_separator: str = "."

    # ------------------------------------------------------------------ I/O

    @classmethod
    def from_metadata_csv(cls, path: str) -> "TableContract":
        """Parse the reference's semicolon-CSV descriptor format.

        Semantics match ``metadata_csv_to_json.py:8-28``: the header row is
        skipped; table-level separators come from the first data row only;
        every data row contributes one column spec.  Cells are split on
        semicolons after the csv module has handled quoting, so a
        quadruple-quote STRING_SEPARATOR cell arrives here as four literal
        quote chars — kept raw in ``string_separator`` and normalized
        lazily by :meth:`quote_char`.
        """
        contract = cls()
        with open(path, newline="") as fh:
            for i, row in enumerate(csv.reader(fh)):
                if not row:
                    continue
                values = row[0].split(";")
                if i == 0:
                    continue  # header row
                if i == 1:
                    contract.decimal_separator = values[4]
                    contract.field_separator = values[3]
                    contract.string_separator = values[2]
                contract.columns.append(
                    ColumnSpec(
                        name=values[0],
                        source_type=values[1],
                        source_format=values[6] if len(values) > 6 else "",
                        nullable=values[5].upper() != "FALSE",
                    )
                )
        return contract

    def to_metadata_csv(self, path: str) -> None:
        """Write the reference's semicolon-CSV descriptor that
        :meth:`from_metadata_csv` parses: the header, then one row per
        column, every row repeating the table-level separators.  A
        contract without a string separator records the reference's
        quadruple-quote cell."""
        quote = self.string_separator
        if quote is None:
            quote = '"' * 4
        with open(path, "w") as fh:
            fh.write(
                "COLUMN_NAME;DATA_TYPE;STRING_SEPARATOR;FIELD_SEPARATOR;"
                "DECIMAL_SEPARATOR;NULLABLE;DATA_FORMAT\n"
            )
            for c in self.columns:
                nullable = "TRUE" if c.nullable else "FALSE"
                fh.write(
                    f"{c.name};{c.source_type};{quote};{self.field_separator};"
                    f"{self.decimal_separator};{nullable};{c.source_format}\n"
                )

    @classmethod
    def from_json_dict(cls, meta: dict) -> "TableContract":
        """Load the compiled-JSON shape the reference round-trips through
        disk (``base_data_validation.py:40-48``)."""
        return cls(
            columns=[
                ColumnSpec(
                    name=m["ColumnName"],
                    source_type=m.get("SourceDataType", "VARCHAR2"),
                    source_format=m.get("SourceDataFormat", "") or "",
                    nullable=str(m.get("SourceNullable", "TRUE")).upper() != "FALSE",
                )
                for m in meta.get("TypeMapping", [])
            ],
            field_separator=meta.get("FieldSeparator", ","),
            string_separator=meta.get("StringSeparator"),
            decimal_separator=meta.get("DecimalSeparator", "."),
        )

    def to_json_dict(self) -> dict:
        """Serialize to the reference's compiled-JSON shape."""
        out = {
            "DecimalSeparator": self.decimal_separator,
            "FieldSeparator": self.field_separator,
            "StringSeparator": self.string_separator,
            "TypeMapping": [c.to_type_mapping() for c in self.columns],
        }
        if self.string_separator is None:
            del out["StringSeparator"]
        return out

    def to_json_file(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.to_json_dict(), fh, indent=4)

    @classmethod
    def from_json_file(cls, path: str) -> "TableContract":
        with open(path) as fh:
            return cls.from_json_dict(json.load(fh))

    # ------------------------------------------------------- derived config

    @property
    def quote_char(self) -> Optional[str]:
        """Single-char quote for Spark's CSV reader (normalized)."""
        return normalize_quote(self.string_separator)

    @property
    def escape_char(self) -> Optional[str]:
        """The escape char, derived from the quote char: the reference
        duplicates the quote char as the escape char (FIXME at
        ``big_data_validator.py:126-127``), and this preserves it."""
        return self.quote_char

    @property
    def regex_quote_char(self) -> str:
        """Quote char used by the quote-aware field-count regex; the
        reference defaults missing separators to ``\"`` there
        (``big_data_validator.py:222-224``)."""
        return self.quote_char or '"'

    @property
    def expected_columns_upper(self) -> list[str]:
        return [c.upper_name for c in self.columns]

    @property
    def arity(self) -> int:
        return len(self.columns)

    # -------------------------------------------------------- spark schema

    def read_schema(self, actual_columns: Iterable[str]) -> StructType:
        """All-``StringType`` read schema over the *actual* header columns
        plus the trailing corrupt-record column, exactly as the reference
        builds it (``big_data_validator.py:97-116``).  Using the actual
        header (not the contract) preserves superset tolerance: extra real
        columns survive the read and conformance is judged separately."""
        fields = [StructField(c, StringType(), True) for c in actual_columns]
        fields.append(StructField(CORRUPT_RECORD_COL, StringType(), True))
        return StructType(fields)


def suggest_contract(
    df,
    field_separator: str = ",",
    max_domain_values: int = 20,
) -> "tuple[TableContract, dict]":
    """Draft a :class:`TableContract` FROM THE DATA plus a suggestions
    report — the profiler→contract loop (Great-Expectations' "suite
    from profile" / Deequ's ConstraintSuggestion shape) the reference's
    hand-written metadata CSVs never close: run once against a trusted
    snapshot, review, commit the contract, and every later snapshot is
    validated against what the data actually looked like.

    TWO aggregation passes over the table (the profiler trick, made
    scale-safe): pass 1 collects per column null/distinct counts and
    numeric min/max — fixed-size aggregation buffers only.  Pass 2 then
    runs ``collect_set`` ONLY for string columns whose exact distinct
    count is already proven ``<= max_domain_values``, so the aggregation
    buffer is genuinely bounded at ``n_cols × max_domain_values``
    values.  (A single-pass ``slice(collect_set(...))`` would still
    accumulate EVERY distinct value of every string column in executor
    memory before slicing — a UUID or free-text column would OOM the
    buffer at scale; the slice only bounded the driver transfer.)
    Pass 2 reads only the qualifying columns (column pruning) and is
    skipped entirely when no column qualifies.  From that:

    - ``nullable=False`` suggested only where the data shows ZERO nulls;
    - candidate keys: unique-and-never-null columns;
    - domain rules: string columns whose distinct count fits the cap;
    - range rules: observed [min, max] per numeric column.

    Returns ``(contract, suggestions)`` where suggestions carries
    ``candidate_keys`` / ``domains`` / ``ranges`` / ``row_count`` for
    human review — a suggested contract is a STARTING POINT, not a
    verdict (observed ranges over-fit small snapshots by construction).
    """
    from pyspark.sql import functions as F

    numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}
    dtypes = dict(df.dtypes)
    cols = [
        c for c, t in df.dtypes
        if t in numeric or t == "string" or t.startswith("decimal")
        or t in ("date", "timestamp", "timestamp_ntz")
    ]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__n")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__d"))
        if dtypes[c] in numeric or dtypes[c].startswith("decimal"):
            aggs.append(F.min(c).alias(f"{c}__min"))
            aggs.append(F.max(c).alias(f"{c}__max"))
    row = df.agg(*aggs).collect()[0]

    # Pass 2: value domains, only for columns PROVEN low-cardinality by
    # pass 1 — collect_set's buffer is bounded by construction.
    domain_cols = [
        c
        for c in cols
        if dtypes[c] == "string" and 0 < row[f"{c}__d"] <= max_domain_values
    ]
    domain_row = (
        df.agg(
            *[
                F.sort_array(F.collect_set(F.col(c))).alias(f"{c}__vals")
                for c in domain_cols
            ]
        ).collect()[0]
        if domain_cols
        else {}
    )

    type_map = {
        "string": ("VARCHAR2", ""),
        "date": ("DATE", "yyyy-MM-dd"),
        "timestamp": ("DATE", "yyyy-MM-dd HH:mm:ss"),
        "timestamp_ntz": ("DATE", "yyyy-MM-dd HH:mm:ss"),
    }
    specs, keys, domains, ranges = [], [], {}, {}
    n_rows = row["__rows"]
    for c in cols:
        src, fmt = type_map.get(dtypes[c], ("NUMBER", ""))
        nulls = row[f"{c}__n"] or 0
        distinct = row[f"{c}__d"]
        specs.append(
            ColumnSpec(
                c,
                source_type=src,
                source_format=fmt,
                nullable=nulls > 0,
            )
        )
        # approximate types never make key suggestions: a float that
        # happens to be unique in one snapshot is not a key, and
        # equality on it is representation-dependent
        if (
            nulls == 0
            and distinct == n_rows
            and n_rows > 0
            and dtypes[c] not in ("float", "double")
        ):
            keys.append(c)
        if c in domain_cols:
            vals = domain_row[f"{c}__vals"]
            # pass-1 gating already excludes empty domains (an empty
            # table or all-null column has distinct == 0 and never
            # reaches pass 2, so no rule rejecting every value)
            if vals:
                domains[c] = list(vals)
        if dtypes[c] in numeric or dtypes[c].startswith("decimal"):
            ranges[c] = (row[f"{c}__min"], row[f"{c}__max"])
    contract = TableContract(
        columns=specs, field_separator=field_separator
    )
    suggestions = {
        "row_count": n_rows,
        "candidate_keys": keys,
        "domains": domains,
        "ranges": ranges,
    }
    return contract, suggestions
