from __future__ import annotations

from big_data_validator_spark.contract import (
    CORRUPT_RECORD_COL,
    ColumnSpec,
    TableContract,
    normalize_quote,
)


def test_parse_reference_metadata_format(person_metadata_csv):
    c = TableContract.from_metadata_csv(person_metadata_csv)
    assert [s.name for s in c.columns] == ["ID", "NAME", "SURNAME", "BIRTH_DATE"]
    assert c.field_separator == "|"
    # csv.reader passes the semicolon-embedded quoted cell through raw:
    # the reference's shipped contract compiles it to 4 quote chars.
    assert c.string_separator == '""""'
    assert c.quote_char == '"'  # normalized (SURVEY §7 hard-list 1)
    assert c.decimal_separator == "."
    assert c.columns[0].source_type == "NUMBER"
    assert c.columns[3].source_format == "dd/M/yyyy"
    assert all(s.nullable for s in c.columns)


def test_json_round_trip(person_metadata_csv, tmp_path):
    c = TableContract.from_metadata_csv(person_metadata_csv)
    p = tmp_path / "meta.json"
    c.to_json_file(str(p))
    c2 = TableContract.from_json_file(str(p))
    assert c2.to_json_dict() == c.to_json_dict()
    assert [s.name for s in c2.columns] == [s.name for s in c.columns]


def test_metadata_csv_round_trip(tmp_path):
    """``to_metadata_csv`` writes what ``from_metadata_csv`` reads back:
    names, types, formats, nullability and the table separators."""
    c = TableContract(
        columns=[
            ColumnSpec("ID", "NUMBER", nullable=False),
            ColumnSpec("NAME", "VARCHAR2"),
            ColumnSpec("BIRTH_DATE", "DATE", "dd/M/yyyy"),
        ],
        field_separator="|",
    )
    p = str(tmp_path / "T_metadata.csv")
    c.to_metadata_csv(p)
    back = TableContract.from_metadata_csv(p)
    assert back.columns == c.columns
    assert back.field_separator == "|"
    assert back.decimal_separator == "."
    assert back.string_separator == '""""' and back.quote_char == '"'


def test_normalize_quote():
    assert normalize_quote('""""') == '"'
    assert normalize_quote('"') == '"'
    assert normalize_quote("nan") is None  # pandas-NaN sentinel (ref :16-17)
    assert normalize_quote("") is None
    assert normalize_quote(None) is None


def test_read_schema_uses_actual_columns_plus_corrupt_col(person_metadata_csv):
    c = TableContract.from_metadata_csv(person_metadata_csv)
    schema = c.read_schema(["ID", "NAME", "SURNAME", "BIRTH_DATE", "EXTRA"])
    assert schema.fieldNames() == [
        "ID", "NAME", "SURNAME", "BIRTH_DATE", "EXTRA", CORRUPT_RECORD_COL,
    ]
    assert all(f.dataType.typeName() == "string" for f in schema.fields)


def test_suggest_contract_from_data(spark):
    """Profiler→contract loop: nullability from observed nulls,
    candidate keys, capped string domains, numeric ranges — one pass."""
    from big_data_validator_spark.contract import suggest_contract

    df = spark.createDataFrame(
        [
            (1, "A", 10.5, "x"),
            (2, "B", -3.0, None),
            (3, "A", 99.0, "y"),
            (4, "C", 7.25, "z"),
        ],
        "id long, status string, amount double, note string",
    )
    contract, sug = suggest_contract(df, max_domain_values=3)
    by_name = {c.name: c for c in contract.columns}
    assert by_name["id"].source_type == "NUMBER"
    assert by_name["id"].nullable is False       # zero observed nulls
    assert by_name["note"].nullable is True      # has a null
    assert by_name["status"].source_type == "VARCHAR2"
    assert sug["row_count"] == 4
    assert sug["candidate_keys"] == ["id"]       # unique + never null
    assert sug["domains"]["status"] == ["A", "B", "C"]
    assert "note" in sug["domains"]              # 3 distinct fits cap
    assert sug["ranges"]["amount"] == (-3.0, 99.0)
    assert sug["ranges"]["id"] == (1, 4)
    # the drafted contract round-trips through the reference JSON shape
    tm = [c.to_type_mapping() for c in contract.columns]
    assert all("ColumnName" in m for m in tm)


def test_suggest_contract_domain_cap_is_detectable(spark):
    from big_data_validator_spark.contract import suggest_contract

    df = spark.createDataFrame(
        [(i, f"v{i:03d}") for i in range(50)], "id long, v string"
    )
    _, sug = suggest_contract(df, max_domain_values=10)
    # 50 distinct values exceed the cap → no domain suggested (a
    # truncated domain would silently reject legitimate values)
    assert "v" not in sug["domains"]


def test_suggest_contract_bounds_collect_buffer(spark):
    """ADVICE r6: the domain collect_set must run only over columns whose
    pass-1 exact distinct count is under the cap — a high-cardinality
    string column (UUIDs) must never reach a collect_set aggregation
    buffer.  Pinned structurally: with ONLY high-card string columns,
    no job containing collect_set runs at all (pass 2 is skipped)."""
    from unittest import mock

    from big_data_validator_spark.contract import suggest_contract

    df = spark.createDataFrame(
        [(i, f"uuid-{i:06d}") for i in range(200)], "id long, u string"
    )
    with mock.patch(
        "pyspark.sql.functions.collect_set",
        side_effect=AssertionError("collect_set on high-card column"),
    ):
        contract, sug = suggest_contract(df, max_domain_values=10)
    assert "u" not in sug["domains"]
    assert sug["row_count"] == 200


def test_suggest_contract_all_null_string_column(spark):
    """All-null string column: distinct == 0 keeps it out of pass 2 —
    no empty-domain rule, and collect_set never sees it."""
    from big_data_validator_spark.contract import suggest_contract

    df = spark.createDataFrame(
        [(1, None, "a"), (2, None, "b"), (3, None, "a")],
        "id long, dead string, v string",
    )
    contract, sug = suggest_contract(df, max_domain_values=5)
    assert "dead" not in sug["domains"]
    assert sug["domains"]["v"] == ["a", "b"]
