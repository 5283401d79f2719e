"""Failure sinks.

The reference writes failing rows as unpartitioned snappy Parquet with
overwrite (``big_data_validator.py:81-95``).  Kept as is, with nothing
cached to leak (the reference caches the parse and returns before
``unpersist`` on the failure path, ``big_data_validator.py:161-169``; the
runner writes the sink only when its aggregation counted corrupt rows,
straight from the parse).  The sink holds only the rows the parser
rejected, so it stays small and unpartitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_failures_parquet(df: DataFrame, output_path: str) -> None:
    """Write violation rows as snappy Parquet, overwriting the sink dir."""
    df.write.mode("overwrite").option("compression", "snappy").parquet(output_path)


def default_failure_path(base_dir: str, table: str) -> str:
    """The reference's sink layout: ``<base>/VALIDATION/<TABLE>_TMP/``
    (``big_data_validator.py:77-78``)."""
    return f"{base_dir.rstrip('/')}/VALIDATION/{table}_TMP/"
