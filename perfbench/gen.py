"""Seeded delimited-text tables with their contracts and ground truth.

Each table is written in the CLI layout the validator reads
(``<base>/inputs/<T>.csv`` and ``<base>/metadata/csv/<T>_metadata.csv``, the
reference's semicolon descriptor) and its expected validation outcome goes to
``<base>/truth/<T>.json``.  The same ``(seed, index)`` always gives the same
bytes: every random draw comes from ``numpy.random.default_rng([seed, index])``
and the text is assembled with Arrow compute kernels, so a 20 MB table takes
about half a second.

Two table flavours:

- *quoted* (``STRING_SEPARATOR`` ``\"\"\"\"``): every field is quoted and a
  quarter of the text values carry a ``|`` inside the quotes, so only the
  quote-aware field count passes.  Clean: every rule passes.
- *naive* (no string separator), optionally *dirty*: exactly
  ``rows // 100`` lines get one extra field (the CSV parser marks them
  corrupt, so they are the failure sink's rows) and another ``rows // 100``
  lines get one bad NUMBER, DATE or NOT NULL value.  Extra fields are
  appended, so the parser still reads every declared column of a corrupt
  line and the per-column type counts stay exact.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

DATE_FORMAT = "dd/MM/yyyy"
#: (declared type, nullable) cycled over a table's columns.
COLUMN_KINDS = (
    ("NUMBER", False),
    ("DATE", True),
    ("VARCHAR2", False),
    ("NUMBER", True),
    ("VARCHAR2", True),
    ("DATE", False),
)
META_HEADER = (
    "COLUMN_NAME;DATA_TYPE;STRING_SEPARATOR;FIELD_SEPARATOR;"
    "DECIMAL_SEPARATOR;NULLABLE;DATA_FORMAT\n"
)

_DAY0 = dt.date(2000, 1, 1)
_DATES = pa.array(
    [(_DAY0 + dt.timedelta(days=d)).strftime("%d/%m/%Y") for d in range(9000)]
)
_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su", "da", "ho"]
_WORDS = pa.array(
    [a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES[:6]]
)


@dataclass(frozen=True)
class TableSpec:
    name: str
    rows: int
    cols: int
    quoted: bool
    dirty: bool


def column_names(cols: int) -> list[tuple[str, str, bool]]:
    kinds = [COLUMN_KINDS[i % len(COLUMN_KINDS)] for i in range(cols)]
    return [(f"C{i:02d}_{t[:3]}", t, nullable) for i, (t, nullable) in enumerate(kinds)]


def _numbers(rng: np.random.Generator, n: int) -> pa.Array:
    whole = pc.cast(pa.array(rng.integers(0, 1_000_000, n)), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(rng.integers(0, 100, n)), pa.string()), 2, "0")
    return pc.binary_join_element_wise(whole, frac, ".")


def _texts(rng: np.random.Generator, n: int, with_separator: bool) -> pa.Array:
    words = _WORDS.take(pa.array(rng.integers(0, len(_WORDS), n)))
    if not with_separator:
        return words
    second = _WORDS.take(pa.array(rng.integers(0, len(_WORDS), n)))
    piped = pc.binary_join_element_wise(words, second, "|")
    return pc.if_else(pa.array(rng.random(n) < 0.25), piped, words)


def _column(rng, n: int, kind: str, nullable: bool, quoted: bool) -> pa.Array:
    if kind == "NUMBER":
        values = _numbers(rng, n)
    elif kind == "DATE":
        values = _DATES.take(pa.array(rng.integers(0, len(_DATES), n)))
    else:
        values = _texts(rng, n, with_separator=quoted)
    if nullable:  # empty cells in nullable columns are valid data
        values = pc.if_else(pa.array(rng.random(n) < 0.02), pa.scalar(""), values)
    return values


def _bad_value(kind: str, nullable: bool, draw: float) -> str:
    """A value that violates the column's declaration: an empty cell for
    NOT NULL columns (half the time when the type is checkable too), else a
    value the declared type cannot parse."""
    if not nullable and (kind == "VARCHAR2" or draw < 0.5):
        return ""
    return "12x34" if kind == "NUMBER" else "2019-13-45"


def _text_bytes(lines: pa.Array) -> bytes:
    """The concatenated values of a string array, without a Python loop."""
    whole = pa.ListArray.from_arrays(pa.array([0, len(lines)], pa.int32()), lines)
    return pc.binary_join(whole, "")[0].as_py().encode()


def build_table(spec: TableSpec, seed: int, index: int) -> tuple[bytes, str, dict]:
    """Return ``(csv_bytes, metadata_csv_text, truth)`` for one table."""
    rng = np.random.default_rng([seed, index])
    cols = column_names(spec.cols)
    n = spec.rows
    values = [_column(rng, n, kind, nullable, spec.quoted) for _, kind, nullable in cols]

    per_column = {name: 0 for name, _, _ in cols}
    n_extra = 0
    if spec.dirty:
        checkable = [i for i, (_, kind, nullable) in enumerate(cols)
                     if kind != "VARCHAR2" or not nullable]
        bad_rows = rng.choice(n, n // 100, replace=False)
        bad_cols = rng.choice(checkable, len(bad_rows))
        for i in checkable:
            rows = bad_rows[bad_cols == i]
            name, kind, nullable = cols[i]
            # one kind of bad value per column keeps it a single if_else
            bad = _bad_value(kind, nullable, rng.random())
            if not len(rows):
                continue
            mask = np.zeros(n, dtype=bool)
            mask[rows] = True
            values[i] = pc.if_else(pa.array(mask), pa.scalar(bad), values[i])
            per_column[name] = len(rows)

    if spec.quoted:
        values = [pc.binary_join_element_wise("\"", v, "\"", "") for v in values]
    lines = pc.binary_join_element_wise(*values, "|")
    if spec.dirty:
        n_extra = n // 100
        extra = np.zeros(n, dtype=bool)
        extra[rng.choice(n, n_extra, replace=False)] = True
        lines = pc.if_else(pa.array(extra), pc.binary_join_element_wise(lines, "EXTRA", "|"), lines)
    lines = pc.binary_join_element_wise(lines, "", "\n")

    quote = "\"" if spec.quoted else ""
    header = "|".join(f"{quote}{name}{quote}" for name, _, _ in cols) + "\n"
    data = header.encode() + _text_bytes(lines)

    string_sep = "\"" * 4 if spec.quoted else ""
    meta = META_HEADER + "".join(
        f"{name};{kind};{string_sep};|;.;{'TRUE' if nullable else 'FALSE'};"
        f"{DATE_FORMAT if kind == 'DATE' else ''}\n"
        for name, kind, nullable in cols
    )
    type_total = sum(per_column.values())
    truth = {
        "table": spec.name,
        "rows": n,
        "bytes": len(data),
        "results": [
            {"rule": "column_names", "passed": True, "violation_count": 0},
            {
                "rule": "field_count_quoted" if spec.quoted else "field_count_naive",
                "passed": n_extra == 0,
                "violation_count": n_extra,
            },
            {
                "rule": "type_enforcement",
                "passed": type_total == 0,
                "violation_count": type_total,
                "per_column": per_column,
            },
        ],
        "escalated": n_extra > 0,
        "sink_rows": n_extra,
    }
    return data, meta, truth


def write_table(base: str, spec: TableSpec, seed: int, index: int) -> dict:
    """Write one table, its contract and its truth under ``base``; return
    the truth record with the written paths added."""
    data, meta, truth = build_table(spec, seed, index)
    paths = {
        "csv": os.path.join(base, "inputs", f"{spec.name}.csv"),
        "metadata": os.path.join(base, "metadata", "csv", f"{spec.name}_metadata.csv"),
        "truth": os.path.join(base, "truth", f"{spec.name}.json"),
    }
    for path in paths.values():
        os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(paths["csv"], "wb") as fh:
        fh.write(data)
    with open(paths["metadata"], "w") as fh:
        fh.write(meta)
    with open(paths["truth"], "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    return {**truth, **paths}
