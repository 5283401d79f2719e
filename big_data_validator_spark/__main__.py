"""CLI entry point — the reference's `spark-submit big_data_validator.py
<TABLE_NAME>` contract (``README.md:32-36``,
``big_data_validator.py:300-301``), rebuilt:

    python -m big_data_validator_spark <TABLE_NAME> [--base-dir DIR]
    python -m big_data_validator_spark stage <TABLE_NAME> \
        --input data.csv --metadata meta.csv [--base-dir DIR]
    python -m big_data_validator_spark query <NAME> [--sf-dir DIR] \
        [--output out.parquet]   # run any analytics-registry operator
    python -m big_data_validator_spark suggest --input data.parquet \
        [--metadata-out meta.csv]  # draft a contract from a snapshot

Uses the reference's naming conventions (``base_data_validation.py:41``,
``big_data_validator.py:261``):

- input table at   ``<base>/inputs/<TABLE>.csv``
- contract at      ``<base>/metadata/csv/<TABLE>_metadata.csv``
- failure sink at  ``<base>/inputs/VALIDATION/<TABLE>_TMP/``

``suggest`` closes the profiler→contract loop: point it at a trusted
parquet/CSV snapshot and it drafts the metadata contract plus a
suggestions report (candidate keys, domains, ranges) for review —
the reference required hand-written metadata CSVs.

``stage`` is the reference's Django upload surface
(``validator/views.py:4-24``, ``forms.py:4-7``) without the web layer: the
view only ever SAVED the two uploaded files into that layout — it never
invoked the validator (a human ran the CLI afterwards).  ``stage`` does the
same file placement; ``TABLE`` names ``stage``/``query``/``suggest`` are
reserved as subcommand names.

Exit code 0 on validation success, 1 on failure (the reference raised
``ValidationErr``); the report prints as JSON either way.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys


def _session(master: str, app: str):
    """The CLI's Spark session: ``master``, app name ``app``, UTC."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def stage(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(prog="big_data_validator_spark stage")
    parser.add_argument("table", help="table name the files are staged under")
    parser.add_argument("--input", required=True, help="data CSV to stage")
    parser.add_argument(
        "--metadata", required=True, help="metadata contract CSV to stage"
    )
    parser.add_argument(
        "--base-dir", default=".", help="directory holding inputs/ and metadata/"
    )
    args = parser.parse_args(argv)
    for src in (args.input, args.metadata):
        if not os.path.exists(src):
            print(f"file not found: {src}", file=sys.stderr)
            return 2
    inputs_dir = os.path.join(args.base_dir, "inputs")
    meta_dir = os.path.join(args.base_dir, "metadata", "csv")
    os.makedirs(inputs_dir, exist_ok=True)
    os.makedirs(meta_dir, exist_ok=True)
    dst_input = os.path.join(inputs_dir, f"{args.table}.csv")
    dst_meta = os.path.join(meta_dir, f"{args.table}_metadata.csv")
    shutil.copyfile(args.input, dst_input)
    shutil.copyfile(args.metadata, dst_meta)
    print(json.dumps({"staged": {"input": dst_input, "metadata": dst_meta}}))
    return 0


def query_cmd(argv: list[str]) -> int:
    """Run (or list) analytics-registry queries from the CLI:

        python -m big_data_validator_spark query --list
        python -m big_data_validator_spark query <name> \
            [--sf-dir DIR] [--output out.parquet] [--limit N]

    Results print as JSON lines (or write to parquet with ``--output``),
    so every operator in the registry is reachable without writing a
    driver script.
    """
    parser = argparse.ArgumentParser(prog="big_data_validator_spark query")
    parser.add_argument("name", nargs="?", help="registry query name")
    parser.add_argument(
        "--list", action="store_true", help="list available queries"
    )
    parser.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.001",
        help="directory with the parquet tables",
    )
    parser.add_argument(
        "--master", default="local[*]", help="Spark master"
    )
    parser.add_argument(
        "--output", default=None, help="write result parquet here"
    )
    parser.add_argument(
        "--limit",
        type=int,
        default=100,
        help="max rows printed as JSON (ignored with --output)",
    )
    args = parser.parse_args(argv)

    from big_data_validator_spark.queries import REGISTRY

    if args.list or not args.name:
        for name, spec in REGISTRY.items():
            kind = "oracled" if spec.oracle else "rows-only"
            print(f"{name}\t{kind}")
        return 0
    if args.name not in REGISTRY:
        print(f"unknown query: {args.name}", file=sys.stderr)
        return 2

    spark = _session(args.master, f"bdv-query-{args.name}")
    try:
        df = REGISTRY[args.name].fn(spark, args.sf_dir)
        if args.output:
            df.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"written": args.output}))
        else:
            for row in df.limit(args.limit).toJSON().collect():
                print(row)
        return 0
    finally:
        spark.stop()


def suggest_cmd(argv: list[str]) -> int:
    """Draft a contract from a trusted snapshot:

        python -m big_data_validator_spark suggest --input data.parquet
        python -m big_data_validator_spark suggest --input data.csv \
            --csv --field-sep '|' --metadata-out TABLE_metadata.csv

    Prints the suggestions report as JSON; ``--metadata-out`` writes
    the drafted contract in the reference's metadata-CSV format so the
    normal validation CLI consumes it directly.
    """
    parser = argparse.ArgumentParser(
        prog="big_data_validator_spark suggest"
    )
    parser.add_argument("--input", required=True, help="snapshot to profile")
    parser.add_argument(
        "--csv", action="store_true",
        help="input is CSV (header row; default parquet)",
    )
    parser.add_argument(
        "--field-sep", default="|",
        help="data-CSV separator recorded in the contract (default '|' "
        "— the reference's own metadata parser splits lines on ';' "
        "after csv comma-handling, so ',' and ';' cannot round-trip "
        "through a metadata file; inherited limitation)",
    )
    parser.add_argument(
        "--max-domain-values", type=int, default=20,
        help="suggest a value domain only up to this cardinality",
    )
    parser.add_argument(
        "--metadata-out", default=None,
        help="write the drafted contract as a reference-format metadata CSV",
    )
    parser.add_argument("--master", default="local[*]", help="Spark master")
    args = parser.parse_args(argv)
    if not os.path.exists(args.input):
        print(f"file not found: {args.input}", file=sys.stderr)
        return 2
    if args.metadata_out and args.field_sep in (",", ";"):
        print(
            "--metadata-out cannot record ',' or ';' as FIELD_SEPARATOR: "
            "the reference metadata format splits on ';' after csv "
            "comma-handling (use e.g. '|')",
            file=sys.stderr,
        )
        return 2

    from big_data_validator_spark.contract import suggest_contract

    spark = _session(args.master, "bdv-suggest")
    try:
        if args.csv:
            df = (
                spark.read.option("header", "true")
                .option("sep", args.field_sep)
                .csv(args.input)
            )
        else:
            df = spark.read.parquet(args.input)
        contract, sug = suggest_contract(
            df,
            field_separator=args.field_sep,
            max_domain_values=args.max_domain_values,
        )
        if args.metadata_out:
            contract.to_metadata_csv(args.metadata_out)
            sug["metadata_out"] = args.metadata_out
        print(json.dumps(sug, default=str))
        return 0
    finally:
        spark.stop()


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "stage":
        return stage(argv[1:])
    if argv and argv[0] == "query":
        return query_cmd(argv[1:])
    if argv and argv[0] == "suggest":
        return suggest_cmd(argv[1:])
    parser = argparse.ArgumentParser(prog="big_data_validator_spark")
    parser.add_argument("table", help="table name (reference CLI argument)")
    parser.add_argument(
        "--base-dir", default=".", help="directory holding inputs/ and metadata/"
    )
    parser.add_argument(
        "--master", default="local[*]", help="Spark master (default local[*])"
    )
    parser.add_argument(
        "--no-type-enforcement",
        action="store_true",
        help="skip declared-type checks (reference-exact behavior: it "
        "declares types but never checks them)",
    )
    args = parser.parse_args(argv)

    from big_data_validator_spark.contract import TableContract
    from big_data_validator_spark.runner import RunnerConfig, ValidationRunner

    csv_path = os.path.join(args.base_dir, "inputs", f"{args.table}.csv")
    meta_path = os.path.join(
        args.base_dir, "metadata", "csv", f"{args.table}_metadata.csv"
    )
    if not os.path.exists(meta_path):
        print(f"metadata contract not found: {meta_path}", file=sys.stderr)
        return 2

    contract = TableContract.from_metadata_csv(meta_path)
    # keep the reference's compiled-JSON artifact convention
    json_dir = os.path.join(args.base_dir, "metadata", "json")
    os.makedirs(json_dir, exist_ok=True)
    contract.to_json_file(
        os.path.join(json_dir, f"{args.table}_metadata.json")
    )

    spark = _session(args.master, "big-data-validator-spark")
    try:
        runner = ValidationRunner(
            spark,
            RunnerConfig(
                enforce_types=not args.no_type_enforcement,
                failure_base_dir=os.path.join(args.base_dir, "inputs"),
            ),
        )
        report = runner.validate_csv(args.table, csv_path, contract)
        print(report.to_json())
        return 0 if report.ok else 1
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
