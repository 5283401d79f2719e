"""Storage-layout entries: Z-order file statistics and compaction
planning over a fragmented copy of ``lineitem``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_validator_spark.operators.layout import (
    morton_sql,
    zorder_file_stats,
)
from big_data_validator_spark.operators.maintenance import compaction_manifest
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.drain import _staged
from big_data_validator_spark.queries.loader import _t


def _zorder_oracle() -> str:
    return f"""
    WITH b AS (SELECT MIN(o_custkey) AS mnx, MAX(o_custkey) AS mxx,
                      MIN(o_orderkey) AS mny, MAX(o_orderkey) AS mxy
               FROM orders),
    q AS (SELECT o_custkey AS x, o_orderkey AS y, mnx, mxx, mny, mxy,
                 ((o_custkey - mnx) * 255) // GREATEST(mxx - mnx, 1)
                   AS _qx,
                 ((o_orderkey - mny) * 255) // GREATEST(mxy - mny, 1)
                   AS _qy
          FROM orders, b),
    z AS (SELECT x, y, mnx, mxx, mny, mxy,
                 ({morton_sql("_qx", "_qy", 8)}) // 1024 AS file_id
          FROM q)
    SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y,
           ((2000000 * (MAX(x) - MIN(x) + 1)
             + (MAX(mxx) - MAX(mnx) + 1))
            // (2 * (MAX(mxx) - MAX(mnx) + 1))) / 1000000.0
             AS x_span_frac,
           ((2000000 * (MAX(y) - MIN(y) + 1)
             + (MAX(mxy) - MAX(mny) + 1))
            // (2 * (MAX(mxy) - MAX(mny) + 1))) / 1000000.0
             AS y_span_frac
    FROM z GROUP BY 1
    """


@query("layout_zorder_stats", oracle=_zorder_oracle())
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering manifest (operators/layout.py:
    zorder_file_stats): orders bucketed into 64 Z-order files over
    (o_custkey, o_orderkey); per file, row count + min-max of both
    dimensions + fractional span of each column's global range — the
    direct measure of min-max file-skipping power that
    Delta/Iceberg-style ``OPTIMIZE ZORDER BY`` buys a 100 TB table.
    The Morton code is a pure shift/mask codegen projection; integer
    quantization makes bucket assignment engine-exact."""
    o = _t(spark, sf_dir, "orders")
    return zorder_file_stats(
        o, "o_custkey", "o_orderkey", bits=8, n_files=64
    )


def _frag_layout_source(spark: SparkSession, sf_dir: str) -> str:
    """Stage a deliberately FRAGMENTED copy of lineitem — one parquet
    file per ``l_orderkey % 16`` partition dir (``repartition`` on the
    partition value guarantees one task, hence one file, per value) —
    the small-file mess a streaming sink leaves behind and the
    compaction planner's input."""

    def write(root: str) -> None:
        (
            _t(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity")
            .withColumn("frag", F.col("l_orderkey") % 16)
            .repartition(16, "frag")
            .write.partitionBy("frag")
            .parquet(f"{root}/lineitem_frag")
        )

    return f"{_staged(spark, sf_dir, 'frag', write)}/lineitem_frag"


@query(
    "layout_compaction_plan",
    oracle="""
    WITH fr AS (
      SELECT l_orderkey % 16 AS frag, COUNT(*) AS n_rows
      FROM lineitem GROUP BY 1
    ),
    w AS (
      SELECT frag, n_rows,
             COALESCE(SUM(n_rows) OVER (ORDER BY frag
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM fr)
    SELECT CAST(frag AS BIGINT) AS frag,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_rows * 64 AS BIGINT) AS est_bytes,
           CAST(cum_before // 15000 AS BIGINT) AS out_file
    FROM w
    """,
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction PLAN manifest over a real fragmented layout
    (operators/maintenance.py: compaction_manifest — VERDICT r6 item 6,
    the maintenance surface's first oracled entry): lineitem is staged
    as 16 single-file fragments (the streaming-sink small-file mess),
    the inventory is read back from the ACTUAL files (``input_file_name``
    + per-file counts — one file per fragment is asserted, not assumed),
    and greedy sequential bin-packing assigns each fragment to the
    compaction output file whose task would read it (cum_rows_before
    div 15000).  The oracle re-derives the inventory relationally —
    row counts are the engine-portable planning currency (real byte
    sizes are encoding-dependent).  Scale: the manifest is file-count
    metadata (~400k rows for 100 TB at 256 MB files), so the global
    cumulative window is bounded by file count, never data."""
    src = _frag_layout_source(spark, sf_dir)
    back = spark.read.parquet(src)
    per_file = (
        back.groupBy(
            F.col("frag").cast("long").alias("frag"),
            F.input_file_name().alias("_file"),
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    # one file per fragment BY CONSTRUCTION — fail loudly if the staging
    # contract broke (the guard lives in a filter predicate so pruning
    # can't drop it)
    frags = per_file.groupBy("frag").agg(
        F.sum("n_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("_nf"),
    ).filter(
        F.when(
            F.col("_nf") != 1,
            F.raise_error(
                F.concat(
                    F.lit("fragment with multiple files: frag="),
                    F.col("frag").cast("string"),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    ).select("frag", "n_rows")
    return compaction_manifest(frags, target_rows=15_000)
