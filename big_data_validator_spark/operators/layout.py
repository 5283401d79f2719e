"""Data-layout optimization: Z-order (Morton) clustering statistics.

At 100 TB the dominant cost of most queries is the scan, and the
dominant scan saver is file skipping: parquet row-group / file min-max
stats let the reader drop files whose ``[min, max]`` range misses the
predicate.  Skipping only works if the layout CLUSTERS each filter
column — and a sort by column A destroys locality for column B.  The
standard fix (Delta/Iceberg ``OPTIMIZE ZORDER BY``) is to sort by the
interleaved-bit Morton code of the filter columns, which gives every
column partial locality.

This module computes the Morton code as a pure-Catalyst expression
(shift/mask/or — codegen'd, no UDF) and the per-file min-max manifest
that quantifies the resulting skipping power.  Repartitioning by Morton
range + ``sortWithinPartitions`` is then the standard write path; the
manifest is what a table-format's pruning index would persist.

Quantization is INTEGER arithmetic end to end (``(v − min) · (2^bits −
1) div (max − min)``) so the bucket assignment is exactly reproducible
across engines — the registry oracle replays it in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _quantize(v: str, mn: str, mx: str, bits: int) -> Column:
    """Map an integer column into [0, 2^bits) by linear integer scaling
    — SQL ``div`` keeps every step exact (no float rounding ambiguity;
    ``floor(a/b)`` in double would misbucket once ``a·levels``
    exceeds 2^53).  Arguments are column NAMES."""
    levels = (1 << bits) - 1
    return F.expr(
        f"(({v} - {mn}) * {levels}) div greatest({mx} - {mn}, 1)"
    )


def morton_interleave(qx: Column, qy: Column, bits: int) -> Column:
    """Morton (Z-order) code of two ``bits``-bit quantized values: bit i
    of x lands at position 2i, bit i of y at 2i+1.  Expands to a fixed
    shift/mask/add expression — one codegen projection, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(qx, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(qy, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


def morton_sql(qx: str, qy: str, bits: int) -> str:
    """The identical Morton expression as portable SQL text (``>> << &``
    work in both Spark SQL and DuckDB) — used to build oracles."""
    terms = [
        f"((({qx} >> {i}) & 1) << {2 * i})"
        f" + ((({qy} >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    ]
    return " + ".join(terms)


def zorder_file_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 8,
    n_files: int = 64,
) -> DataFrame:
    """Assign every row to a Z-order file bucket and emit the per-file
    min-max manifest for both dimensions, plus each file's fractional
    span of the column's global range (``*_span_frac``) — the direct
    measure of skipping power: a predicate on either column prunes a
    file whenever its value range misses the file's span, so smaller
    spans = more files skipped.  A perfect 2-D Z-order over ``f`` files
    approaches ``1/sqrt(f)`` per-dimension spans; a single-column sort
    gives ``1/f`` on one dimension and ~1 on the other.

    Two jobs: a scalar min-max aggregation (broadcast back as a 1-row
    cross join — no driver collect baked into the plan), then one
    scan computing quantize → interleave → bucket → groupBy(file_id).
    The groupBy shuffles ``n_files`` groups of partial aggregates —
    map-side combined, so the exchange moves ~``n_files × partitions``
    rows regardless of table size.
    """
    if n_files <= 0 or (n_files & (n_files - 1)) != 0:
        raise ValueError(f"n_files must be a positive power of two, got {n_files}")
    if not 1 <= bits <= 16:
        raise ValueError(f"bits must be in [1, 16], got {bits}")
    if n_files > (1 << (2 * bits)):
        raise ValueError("n_files exceeds the Morton code space")
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    bounds = df.agg(
        F.min(x).alias("_mnx"),
        F.max(x).alias("_mxx"),
        F.min(y).alias("_mny"),
        F.max(y).alias("_mxy"),
    )
    per_file_codes = (1 << (2 * bits)) // n_files
    keyed = (
        df.select(x.alias("_x"), y.alias("_y"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "_x",
            "_y",
            "_mnx",
            "_mxx",
            "_mny",
            "_mxy",
            _quantize("_x", "_mnx", "_mxx", bits).alias("_qx"),
            _quantize("_y", "_mny", "_mxy", bits).alias("_qy"),
        )
        .withColumn(
            "file_id",
            (
                morton_interleave(F.col("_qx"), F.col("_qy"), bits)
                / per_file_codes
            )
            .cast("long"),
        )
    )
    # span fractions quantized with exact integer half-up division —
    # round(double, 6) ties when the rational terminates at exactly 7
    # decimals ending in 5 (e.g. a 2^k-sized domain), where engines'
    # rounding modes disagree
    agged = keyed.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("_x").alias("min_x"),
        F.max("_x").alias("max_x"),
        F.min("_y").alias("min_y"),
        F.max("_y").alias("max_y"),
        (F.first("_mxx") - F.first("_mnx") + 1).alias("_dx"),
        (F.first("_mxy") - F.first("_mny") + 1).alias("_dy"),
    )
    return agged.select(
        "file_id",
        "n_rows",
        "min_x",
        "max_x",
        "min_y",
        "max_y",
        (
            F.expr(
                "(2000000 * (max_x - min_x + 1) + _dx) div (2 * _dx)"
            ).cast("double")
            / 1000000.0
        ).alias("x_span_frac"),
        (
            F.expr(
                "(2000000 * (max_y - min_y + 1) + _dy) div (2 * _dy)"
            ).cast("double")
            / 1000000.0
        ).alias("y_span_frac"),
    )
