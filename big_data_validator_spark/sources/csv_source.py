"""CSV / raw-text source scans.

Reference behavior re-expressed Spark-first:

- the reference scans the file twice, once as ``sc.textFile`` (RDD of lines,
  ``big_data_validator.py:262``) and once through the CSV reader
  (``:135-146``).  We keep both *views* but both are DataFrames — the line
  view is ``spark.read.text`` so per-line rules stay inside Catalyst /
  whole-stage codegen instead of Python lambdas.
- PERMISSIVE mode + ``columnNameOfCorruptRecord`` capture is kept verbatim;
  it is already idiomatic Spark.
"""

from __future__ import annotations

import re
from codecs import BOM_UTF8
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession

from big_data_validator_spark.contract import CORRUPT_RECORD_COL, TableContract


def scan_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file scan as raw lines, one ``value: string`` column.

    DataFrame equivalent of the reference's ``sc.textFile``
    (``big_data_validator.py:262``) — unlike the RDD, downstream splits /
    regex counts compile to codegen'd expressions.  At 100 TB this scan is
    automatically split by file and by HDFS/S3 block, so parallelism scales
    with input size; ``wholetext`` is never used.
    """
    return spark.read.text(path)


def header_columns(line: Optional[str], contract: TableContract) -> list[str]:
    """Derive the actual column list from a header line (``None``: the
    input has no lines).

    Semantics of ``big_data_validator.py:39-47``: split the header on the
    field separator, strip the (raw, possibly multi-char) string-separator
    character set from each cell, uppercase.  ``str.strip(chars)`` treats its
    argument as a character *set*, so the reference's 4-char ``\"\"\"\"``
    separator strips the same characters a single quote would — preserved by
    stripping the normalized set.
    """
    if line is None:
        return []
    strip_chars = contract.string_separator or ""
    return [c.strip(strip_chars).upper() for c in line.split(contract.field_separator)]


def probe_header(
    spark: SparkSession, path: str, contract: TableContract
) -> list[str]:
    """Read the first line through Spark and derive the actual column list
    (:func:`header_columns`).

    This is a one-partition, first-line-only job (``limit(1)``) — constant
    cost regardless of table size.  It serves every input Spark can read;
    one local uncompressed file needs no job (:func:`read_local_header`).
    """
    first = spark.read.text(path).limit(1).collect()
    return header_columns(first[0][0] if first else None, contract)


_LINE_END = re.compile(rb"[\r\n]")


def read_local_header(
    spark: SparkSession, paths: list[str], contract: TableContract
) -> Optional[list[str]]:
    """The actual column list of one local uncompressed file, with its
    first line read on the driver exactly as ``spark.read.text`` yields it;
    ``None`` when the input is not one such file and Spark must read it
    (:func:`probe_header`).

    ``paths`` are the input's local files (``_local_input_probe``).  A name
    whose suffix maps to a Hadoop codec (``.gz``, ``.bz2``, …) is left to
    Spark, which decompresses it.  Like Hadoop's line reader, the line ends
    at ``\n``, ``\r\n`` or ``\r``, a leading UTF-8 byte-order mark is
    dropped, and invalid UTF-8 decodes to U+FFFD.  A file that is empty, or
    holds only the mark, has no header (``[]``).
    """
    if len(paths) != 1:
        return None
    jvm = spark.sparkContext._jvm
    codecs = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    if codecs.getCodec(jvm.org.apache.hadoop.fs.Path(paths[0])) is not None:
        return None
    head = b""
    with open(paths[0], "rb") as fh:
        while not _LINE_END.search(head) and (chunk := fh.read(1 << 16)):
            head += chunk
    head = head.removeprefix(BOM_UTF8)
    if not head:
        return []
    line = _LINE_END.split(head, 1)[0]
    return header_columns(line.decode("utf-8", "replace"), contract)


def scan_csv_permissive(
    spark: SparkSession,
    path: str,
    contract: TableContract,
    actual_columns: Optional[Iterable[str]] = None,
) -> DataFrame:
    """Quote/escape-aware CSV scan with corrupt-record capture.

    Options match the reference reader (``big_data_validator.py:135-146``):
    explicit all-string schema, header row, multiline quoted fields,
    leading/trailing whitespace trim, PERMISSIVE mode with unparseable rows
    captured in ``CorruptRecCol`` instead of failing the job.

    The reference couples this to a hidden ordering dependency — the schema
    comes from ``self.actual_columns`` set by the column-name rule
    (SURVEY.md §7 hard-list item 4).  Here the dependency is an explicit
    parameter; when omitted the header is probed directly.
    """
    if actual_columns is None:
        actual_columns = probe_header(spark, path, contract)
    schema = contract.read_schema(actual_columns)

    reader = (
        spark.read.option("header", "true")
        .option("delimiter", contract.field_separator)
        .option("enforceSchema", "false")
        .option("ignoreLeadingWhiteSpace", True)
        .option("ignoreTrailingWhiteSpace", True)
        .option("multiLine", True)
        .option("columnNameOfCorruptRecord", CORRUPT_RECORD_COL)
        .option("mode", "PERMISSIVE")
    )
    if contract.quote_char is not None:
        reader = reader.option("quote", contract.quote_char).option(
            "escape", contract.escape_char
        )
    return reader.schema(schema).csv(path)
