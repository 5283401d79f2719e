"""Failure sinks.

The reference writes failing rows as unpartitioned snappy Parquet with
overwrite (``big_data_validator.py:81-95``).  Kept, with two 100 TB
upgrades: optional partition columns (rule name / date) so downstream
triage prunes partitions, and nothing cached to leak (the reference caches
the parse and returns before ``unpersist`` on the failure path,
``big_data_validator.py:161-169``; the runner writes the sink only when
its aggregation counted corrupt rows, straight from the parse).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame


def write_failures_parquet(
    df: DataFrame,
    output_path: str,
    partition_by: Optional[Sequence[str]] = None,
) -> None:
    """Write violation rows as snappy Parquet, overwriting the sink dir."""
    writer = df.write.mode("overwrite").option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(output_path)


def default_failure_path(base_dir: str, table: str) -> str:
    """The reference's sink layout: ``<base>/VALIDATION/<TABLE>_TMP/``
    (``big_data_validator.py:77-78``)."""
    return f"{base_dir.rstrip('/')}/VALIDATION/{table}_TMP/"
