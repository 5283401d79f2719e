"""Driver-facing query registry: every operator from SURVEY.md §2 (and the
north-star additions) as a ``(spark, sf_dir) -> DataFrame`` callable, with a
DuckDB-ANSI-SQL oracle where the semantics are SQL-expressible.

Conventions (hash-match discipline):

- every computed column is aliased identically in the Spark plan and the
  oracle SQL;
- float aggregates are rounded (2-6 digits) on BOTH sides; cross-engine
  float noise is ~1e-12 relative, far inside the rounding;
- timestamps never leave as raw timestamps — always formatted strings or
  dates, with the Spark session pinned to UTC;
- integer sums are cast to bigint in the oracle (DuckDB sums to int128);
- top-k queries carry deterministic tie-breaks;
- float vectors are cast to double before arithmetic on both sides.

Queries whose semantics are hash-dependent (MinHash/SimHash/LSH) have no
oracle — the driver records the weaker rows-only check; their correctness
is pinned by pytest against exact algorithms instead.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
from dataclasses import dataclass
from typing import Callable, NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from big_data_validator_spark.functions.exprs import (
    field_count_naive,
    field_count_quoted,
)
from big_data_validator_spark.operators import rebalance_for_compute as _rb
from big_data_validator_spark.operators import dedup as D
from big_data_validator_spark.operators import multimodal as M
from big_data_validator_spark.operators import packing as P
from big_data_validator_spark.operators import relational as R
from big_data_validator_spark.operators import similarity as S
from big_data_validator_spark.operators import text as T


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str] = None


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: Optional[str] = None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle)
        return fn

    return deco


_SESSIONS_WITH_PYFILES: set[str] = set()


def _ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to Python workers once per session.

    Local-mode workers are forked with the JVM's PYTHONPATH; a launcher
    that built its SparkSession from another cwd (without the repo on
    PYTHONPATH) can run every pure-Catalyst query yet fail Arrow-UDF
    kernels at unpickle time with ``ModuleNotFoundError``.  ``addPyFile``
    of a package zip makes the kernels importable regardless of launcher
    layout; it is a no-op burden (<100 KB) when PYTHONPATH already works.
    """
    # applicationId is stable and unique per session; a memo on id(spark)
    # could collide when a stopped session's id() is reused by a new one
    # and silently skip the shipping this exists for (ADVICE r2).
    key = spark.sparkContext.applicationId
    if key in _SESSIONS_WITH_PYFILES:
        return
    _SESSIONS_WITH_PYFILES.add(key)
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    try:
        zip_path = shutil.make_archive(
            os.path.join(tempfile.mkdtemp(prefix="bdv_pyfiles_"), "bdv_pkg"),
            "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        # Best-effort: a session that already resolves the package (the
        # normal case) loses nothing if shipping fails.
        pass


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to one canonical TIMESTAMP type whatever the
    parquet storage layout is, so no query ever sees the storage type.

    The testdata has shipped ``events.ts`` in several layouts across
    regenerations: nanosecond timestamps (which Spark's reader surfaces as
    ``bigint`` under ``nanosAsLong`` — DuckDB silently truncates them to
    µs), plain ``timestamp[us]`` (read as TIMESTAMP_NTZ), and tz-adjusted
    µs (read as TIMESTAMP).  Branching here once is the contract; queries
    downstream may rely on ``ts`` being castable to long, windowable, and
    comparable (VERDICT r3 — the un-normalized NTZ layout broke three
    queries and the whole bench run).
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        # Epoch longs: infer the unit from magnitude (uniform per file, so
        # a per-row CASE costs nothing and needs no probe job).
        # SUPPORTED EPOCH RANGE: ~1973-03..2200 (positive epochs only).
        # The magnitude bands are unambiguous only there — a ns epoch
        # before 1973-03 falls under 1e17 and would be misread as µs, and
        # abs() maps pre-1970 negative epochs into the same bands
        # symmetrically, so early-epoch data would silently shift 1000×
        # (ADVICE r4).  The testdata generator emits 1992+ events, well
        # inside the safe band; ingest of historical/pre-1970 archives
        # must carry an explicit unit instead of relying on inference.
        # Integer division only: float division would lose precision at
        # ns-epoch magnitude (~2^60).
        a = F.abs(F.col("ts"))
        us = (
            F.when(a >= F.lit(10**17), F.expr("ts div 1000"))       # ns
            .when(a >= F.lit(10**14), F.col("ts"))                  # µs
            .when(a >= F.lit(10**11), F.col("ts") * F.lit(1000))    # ms
            .otherwise(F.col("ts") * F.lit(1_000_000))              # s
        )
        return df.withColumn("ts", F.timestamp_micros(us))
    if dtype is not None and dtype.startswith("timestamp"):
        # NTZ → TIMESTAMP is a legal cast (wall-clock reinterpreted in the
        # session zone); collecting converts back with the same zone, so
        # the round-trip is layout-independent.  No-op if already LTZ.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_worker_imports(spark)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _normalize_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events_stream(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Streaming reader for the events table with ``ts`` normalized to the
    SAME canonical TIMESTAMP the batch loader (:func:`_t`) produces.

    ``readStream`` needs an explicit schema, so this reads the file's own
    footer schema via a batch probe (driver-side metadata only, no data
    scan) and then applies :func:`_normalize_ts` — the stream and batch
    legs of every streaming query therefore agree on the events layout by
    construction instead of hard-coding one storage era's schema.

    The file source watches a DIRECTORY; testdata is a flat dir of tables,
    so the one table is exposed through a symlink in a fresh directory
    under the drain's ``root`` — zero copy, removed with the root, and in
    production the source dir is already per-table.
    """
    import tempfile

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src_dir = tempfile.mkdtemp(prefix="events_", dir=root)
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    return _normalize_ts(spark.readStream.schema(raw_schema).parquet(src_dir))


class _Drain(NamedTuple):
    """What one :func:`_bounded_drain` call owns."""

    root: str  # per-call temp root: sources, sinks, repositories
    checkpoint: str  # the query's checkpoint, under ``root``
    table: str  # the query name, which is also a memory sink's table


def _bounded_drain(
    spark: SparkSession,
    name: str,
    writer: Callable[[_Drain], DataStreamWriter],
    read_back: Callable[[_Drain], DataFrame],
    state_partitions: int = 2,
) -> DataFrame:
    """Run registry entry ``name``'s BOUNDED streaming drain and return
    its collected result.

    ``writer(d)`` builds the unstarted query, with every source, sink
    and repository it creates under ``d.root``.  The harness names it
    ``d.table`` (the entry name plus a uniqueness suffix), sets its
    checkpoint, starts it with ``availableNow`` and awaits it;
    ``awaitTermination`` re-raises the query's own failure.
    ``read_back(d)`` reads the sink, and its result is materialized
    (:func:`~big_data_validator_spark.operators.dedup
    .materialize_release`) BEFORE the root is deleted: lazy parquet
    reads must not outlive their directory.  The root and a memory
    sink's temp view are removed whether the drain succeeds or not.

    ``spark.sql.shuffle.partitions`` — hence the state partitions, fixed
    at query start — is ``state_partitions`` for the drain only and is
    restored before the read-back, so read-back plans keep the session
    value.  Measured at sf0.1 on local[32]: a finite drain spends more
    on per-partition state-store checkpointing than on data (r12: 32 →
    8 partitions took the attribution join 3.3 s → 1.6 s; r14
    within-session A/B, 8 → 2 partitions: attribution_left 5.5 → 4.4 s,
    mannwhitney 5.8 → 5.4 s, attribution_join 1.6 → 1.35 s, dedup 1.2 →
    1.15 s — every drained batch here is file-sized, so two state
    partitions already hold it).  A real deployment sizes this to
    drained bytes per trigger, not to core count.
    """
    import shutil
    import tempfile
    import uuid

    root = tempfile.mkdtemp(prefix=f"bdv_{name}_")
    d = _Drain(root, f"{root}/checkpoint", f"{name}_{uuid.uuid4().hex[:8]}")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        try:
            q = (
                writer(d)
                .queryName(d.table)
                .option("checkpointLocation", d.checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
            finally:
                q.stop()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        return D.materialize_release(read_back(d))
    finally:
        spark.catalog.dropTempView(d.table)
        shutil.rmtree(root, ignore_errors=True)


def _memory_sink(stream: DataFrame, output_mode: str) -> DataStreamWriter:
    """An unstarted memory-sink writer for :func:`_bounded_drain`, which
    names the query and with it the sink's table (``_Drain.table``)."""
    return stream.writeStream.format("memory").outputMode(output_mode)


#: (applicationId, sf_dir, tag) → root of a staged :func:`_staged_runs`
#: source.  Staging is input minting, not operator work — reused across
#: calls the way production sources pre-exist their consumers.
_STAGED_RUNS: dict[tuple, str] = {}


def _staged_runs(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    runs: Callable[[], list],
) -> str:
    """Write (once per session+sf) the frames ``runs()`` returns as
    single-file parquet dirs ``run0``, ``run1``, … whose explicit mtimes
    agree with their names, so :func:`_ordered_stream` delivers run r as
    micro-batch r (batch_id == run_id) without sleeping between
    writes."""
    import tempfile

    key = (spark.sparkContext.applicationId, sf_dir, tag)
    hit = _STAGED_RUNS.get(key)
    if hit and os.path.isdir(hit):
        return hit
    root = tempfile.mkdtemp(prefix=f"bdv_{tag}_src_")
    for r, frame in enumerate(runs()):
        dst = f"{root}/run{r}"
        frame.coalesce(1).write.parquet(dst)
        for f in os.listdir(dst):
            os.utime(f"{dst}/{f}", (1_000_000 + r, 1_000_000 + r))
    _STAGED_RUNS[key] = root
    return root


def _ordered_stream(
    spark: SparkSession, src: str, first: str = "run0"
) -> DataFrame:
    """Stream the file groups under ``src`` one file per micro-batch,
    oldest mtime first, with the schema of ``src/first``."""
    return (
        spark.readStream.schema(spark.read.parquet(f"{src}/{first}").schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{src}/*")
    )


# =====================================================================
# Flagship: single-pass multi-rule validation metrics (the engine's core
# trick — N rules, ONE scan; reference ran one job per rule)
# =====================================================================

@query(
    "validation_summary_lineitem",
    oracle="""
    SELECT 'quantity_range' AS rule_name,
           CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS violation_count
    FROM lineitem
    UNION ALL
    SELECT 'discount_range',
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'returnflag_domain',
           CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'price_positive',
           CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'null_orderkey',
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    """,
)
def validation_summary_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All rule counters in ONE aggregation over ONE scan, then unpivoted to
    (rule_name, violation_count) rows.  Deliberately NOT rebalanced: the
    rules are cheap expressions, so the scan is IO-bound and the 100 TB
    contract (no row shuffle, one partial-agg row per partition) matters
    more than local core count — pinned by test_plans."""
    li = _t(spark, sf_dir, "lineitem")
    exprs = {
        "quantity_range": (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
        "discount_range": (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
        "returnflag_domain": ~F.col("l_returnflag").isin("A", "N", "R"),
        "price_positive": F.col("l_extendedprice") <= 0,
        "null_orderkey": F.col("l_orderkey").isNull(),
    }
    wide = R.violation_expr_metrics(li, exprs)
    stack = ", ".join(f"'{k}', {k}" for k in exprs)
    return wide.selectExpr(
        f"stack({len(exprs)}, {stack}) as (rule_name, violation_count)"
    )


# =====================================================================
# Scans / projections (SURVEY §2a, §2c)
# =====================================================================

@query(
    "scan_pushdown_projection",
    oracle="""
    SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice * (1 - l_discount), 2) AS net_price
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '2001-01-01' AND l_quantity > 45
    """,
)
def scan_pushdown_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + narrow projection; predicate and column pruning reach the
    parquet scan (PushedFilters/ReadSchema verified in tests)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate").cast("date") >= F.lit("2001-01-01").cast("date"))
        & (F.col("l_quantity") > 45)
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
            "net_price"
        ),
    )


def _csv_roundtrip_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core scan surface end-to-end (SURVEY §2a
    `scan_csv_permissive` + §2c `filter_corrupt_rows`): materialize a CSV
    with planted wrong-arity rows (every p_partkey % 97 == 0 gets an extra
    field), scan it back with the quote-aware PERMISSIVE reader + explicit
    all-string schema + CorruptRecCol, and report corrupt/clean metrics in
    one aggregation.  The oracle derives the same counts from the parquet
    table directly — the CSV write is local test scaffolding, the scan
    itself is the production path (options verbatim from
    ``big_data_validator.py:135-146``)."""
    import tempfile

    from big_data_validator_spark.contract import ColumnSpec, TableContract
    from big_data_validator_spark.sources.csv_source import scan_csv_permissive

    part = _t(spark, sf_dir, "part")
    line = F.concat(
        F.col("p_partkey").cast("string"),
        F.lit('|"'), F.col("p_name"), F.lit('"|'),
        F.col("p_brand"), F.lit("|"),
        F.col("p_size").cast("string"),
        F.when(F.col("p_partkey") % 97 == 0, F.lit("|XTRA")).otherwise(F.lit("")),
    )
    header = spark.createDataFrame(
        [(0, 'P_PARTKEY|"P_NAME"|P_BRAND|P_SIZE')], ["ord", "value"]
    )
    csv_dir = tempfile.mkdtemp(prefix="bdv_csv_scan_")
    (
        part.select((F.col("p_partkey") + 1).alias("ord"), line.alias("value"))
        .unionByName(header)
        .repartition(1)
        .sortWithinPartitions("ord")
        .select("value")
        .write.mode("overwrite")
        .text(csv_dir)
    )
    contract = TableContract(
        columns=[
            ColumnSpec("P_PARTKEY", "NUMBER"),
            ColumnSpec("P_NAME", "VARCHAR2"),
            ColumnSpec("P_BRAND", "VARCHAR2"),
            ColumnSpec("P_SIZE", "NUMBER"),
        ],
        field_separator="|",
        string_separator='"',
    )
    scanned = scan_csv_permissive(spark, csv_dir, contract)
    corrupt = F.col("CorruptRecCol").isNotNull()
    return scanned.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(corrupt.cast("long")).alias("corrupt_rows"),
        F.count_distinct(
            F.when(~corrupt, F.col("P_BRAND"))
        ).alias("clean_distinct_values"),
        F.sum(
            F.when(~corrupt, F.col("P_SIZE").try_cast("long"))
        ).alias("clean_checksum"),
    )


def _json_roundtrip_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JSON reader the reference only gestured at
    (``big_data_validator.py:134`` lists "CSV, Parquet or JSON"; only CSV
    exists) — end-to-end: materialize JSON-lines with planted malformed
    rows (every event_id % 101 == 0 is truncated mid-object), scan back
    through ``scan_json`` with an EXPLICIT schema (no inference pre-pass —
    that's a full extra scan at 100 TB) + PERMISSIVE corrupt-record
    capture, and report corrupt/clean metrics in one aggregation.  The
    oracle derives the same counts from the parquet table; value sums
    compare in integer cents so float-addition order can't perturb the
    hash."""
    import tempfile

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from big_data_validator_spark.sources.readers import scan_json

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    good = F.to_json(F.struct("event_id", "event_type", "value"))
    bad = F.concat(F.lit('{"event_id": '), F.col("event_id").cast("string"),
                   F.lit(', "event_type": "tru'))
    line = F.when(F.col("event_id") % 101 == 0, bad).otherwise(good)
    json_dir = tempfile.mkdtemp(prefix="bdv_json_scan_")
    ev.select(line.alias("value")).write.mode("overwrite").text(json_dir)
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    scanned = scan_json(spark, json_dir, schema)
    corrupt = F.col("CorruptRecCol").isNotNull()
    return scanned.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(corrupt.cast("long")).alias("corrupt_rows"),
        F.count_distinct(
            F.when(~corrupt, F.col("event_type"))
        ).alias("clean_distinct_values"),
        F.sum(
            F.when(~corrupt, F.round(F.col("value") * 100).cast("long"))
        ).alias("clean_checksum"),
    )


@query(
    "scan_permissive_roundtrip",
    oracle="""
    SELECT 'csv' AS source,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(SUM(CASE WHEN p_partkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS corrupt_rows,
           CAST(COUNT(DISTINCT CASE WHEN p_partkey % 97 <> 0 THEN p_brand END) AS BIGINT) AS clean_distinct_values,
           CAST(SUM(CASE WHEN p_partkey % 97 <> 0 THEN p_size END) AS BIGINT) AS clean_checksum
    FROM part
    UNION ALL
    SELECT 'json',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN event_id % 101 = 0 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT CASE WHEN event_id % 101 <> 0 THEN event_type END) AS BIGINT),
           CAST(SUM(CASE WHEN event_id % 101 <> 0 THEN ROUND(value * 100) END) AS BIGINT)
    FROM events
    """,
)
def scan_permissive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both permissive scan surfaces (CSV §2a + the JSON path) in one
    oracle-checked row pair — see :func:`_csv_roundtrip_metrics` and
    :func:`_json_roundtrip_metrics` for the per-format plumbing."""
    csv_row = _csv_roundtrip_metrics(spark, sf_dir).select(
        F.lit("csv").alias("source"), "*"
    )
    json_row = _json_roundtrip_metrics(spark, sf_dir).select(
        F.lit("json").alias("source"), "*"
    )
    return csv_row.unionByName(json_row)


@query(
    "scan_parquet_evolving",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS priority_nulls,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           ROUND(SUM(o_totalprice), 2) AS price_sum
    FROM orders
    """,
)
def scan_parquet_evolving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mergeSchema union-schema scan, oracle-checked end to end: orders
    is re-written as an EVOLVING ingest directory — an "old" drop
    without ``o_orderpriority`` (even keys) and a "new" drop with it
    (odd keys) — then read back through
    :func:`sources.readers.scan_parquet_evolving`.  The aggregate pins
    the union-schema semantics: the default reader would either drop
    the late column or fail; under mergeSchema the old files surface it
    as NULL, so ``priority_nulls`` must equal the even-key count and the
    numeric checksums must survive the round trip."""
    import tempfile

    from big_data_validator_spark.sources.readers import (
        scan_parquet_evolving as _scan_evolving,
    )

    orders = _t(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="bdv_evolving_")
    old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(f"{base}/drop1")
    new.write.mode("overwrite").parquet(f"{base}/drop2")
    merged = _scan_evolving(spark, f"{base}/drop1", f"{base}/drop2")
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_orderpriority").isNull().cast("long")).alias(
            "priority_nulls"
        ),
        F.count_distinct("o_orderkey").alias("n_keys"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
    )


@query(
    "scan_orc",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_totalprice > 150000
    GROUP BY o_orderpriority
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round trip (§2a enum intent: the reference's reader comment
    names CSV/parquet/JSON; ORC is the other Spark-native columnar
    format — ``big_data_validator.py:134``): orders written to ORC,
    read back through :func:`sources.readers.scan_orc` with a selective
    filter + projection so predicate pushdown and column pruning reach
    the stripe level (plan pinned in tests/test_sources.py), then
    aggregated for the oracle hash."""
    import tempfile

    from big_data_validator_spark.sources.readers import scan_orc as _scan_orc

    orders = _t(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="bdv_orc_")
    orders.write.mode("overwrite").orc(f"{base}/orders")
    o = _scan_orc(spark, f"{base}/orders")
    return (
        o.filter(F.col("o_totalprice") > 150000)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: the headline group-agg (partial
    aggregation map-side; shuffle carries only group keys + sums)."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("2001-09-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# =====================================================================
# Reference-parity rules over testdata (SURVEY §2c-2e)
# =====================================================================

@query(
    "rule_field_count_naive",
    oracle="""
    SELECT CAST(len(string_split(text, ' ')) AS INT) AS field_count,
           CAST(COUNT(*) AS BIGINT) AS line_count
    FROM documents
    GROUP BY 1
    """,
)
def rule_field_count_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of naive (quote-blind) per-line field counts — the
    reference's `len(line.split(sep))` as a codegen expression
    (``big_data_validator.py:191``), demonstrated with a space separator
    over the documents corpus."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    return (
        docs.select(
            field_count_naive(F.col("text"), " ").alias("field_count")
        )
        .groupBy("field_count")
        .agg(F.count(F.lit(1)).alias("line_count"))
    )


@query(
    "rule_column_names",
    oracle="""
    SELECT * FROM (VALUES
        ('L_ORDERKEY', TRUE), ('L_PARTKEY', TRUE), ('L_SUPPKEY', TRUE),
        ('L_LINENUMBER', TRUE), ('L_QUANTITY', TRUE), ('L_EXTENDEDPRICE', TRUE),
        ('L_DISCOUNT', TRUE), ('L_TAX', TRUE), ('L_RETURNFLAG', TRUE),
        ('L_LINESTATUS', TRUE), ('L_SHIPDATE', TRUE), ('L_COMMENT', FALSE)
    ) AS t(column_name, present)
    """,
)
def rule_column_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-name conformance (case-insensitive superset semantics of
    ``big_data_validator.py:26-74``) of the lineitem schema against a
    contract expecting one extra column (L_COMMENT, absent → fails)."""
    li = _t(spark, sf_dir, "lineitem")
    actual = {c.upper() for c in li.columns}
    expected = [
        "L_ORDERKEY", "L_PARTKEY", "L_SUPPKEY", "L_LINENUMBER", "L_QUANTITY",
        "L_EXTENDEDPRICE", "L_DISCOUNT", "L_TAX", "L_RETURNFLAG",
        "L_LINESTATUS", "L_SHIPDATE", "L_COMMENT",
    ]
    return spark.createDataFrame(
        [(c, c in actual) for c in expected], ["column_name", "present"]
    )


@query(
    "rule_type_enforcement",
    oracle="""
    SELECT
      CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey,
      CAST(SUM(CASE WHEN TRY_CAST(o_orderpriority AS DOUBLE) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS non_numeric_priority,
      CAST(SUM(CASE WHEN TRY_CAST(substr(o_orderpriority, 1, 1) AS DOUBLE) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS non_numeric_priority_prefix
    FROM orders
    """,
)
def rule_type_enforcement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-type enforcement (SURVEY §7 P2) demonstrated on orders:
    NOT-NULL and NUMBER checks via try_cast (ANSI-safe), all in one agg."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias("null_orderkey"),
        F.sum(
            F.col("o_orderpriority").try_cast("double").isNull().cast("long")
        ).alias("non_numeric_priority"),
        F.sum(
            F.substring(F.col("o_orderpriority"), 1, 1)
            .try_cast("double")
            .isNull()
            .cast("long")
        ).alias("non_numeric_priority_prefix"),
    )


# =====================================================================
# Relational rule vocabulary (SURVEY §7 P3)
# =====================================================================

@query(
    "rule_uniqueness_dup_keys",
    oracle="""
    SELECT l_orderkey, l_linenumber, CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1
    """,
)
def rule_uniqueness_dup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return R.duplicate_key_groups(li, ["l_orderkey", "l_linenumber"])


@query(
    "rule_uniqueness_metrics",
    oracle="""
    WITH m AS (SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
                      CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS d_orderkey,
                      CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d_custkey
               FROM orders)
    SELECT 'o_orderkey' AS column_name, row_count, d_orderkey AS distinct_count,
           CAST(d_orderkey AS DOUBLE) / row_count AS uniqueness_ratio FROM m
    UNION ALL
    SELECT 'o_custkey', row_count, d_custkey,
           CAST(d_custkey AS DOUBLE) / row_count FROM m
    """,
)
def rule_uniqueness_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return R.uniqueness_metrics(o, ["o_orderkey", "o_custkey"])


@query(
    "rule_completeness",
    oracle="""
    WITH m AS (SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
                      CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_q,
                      CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_r
               FROM lineitem)
    SELECT 'l_quantity' AS column_name, row_count, n_q AS null_count,
           1.0 - CAST(n_q AS DOUBLE) / row_count AS completeness_ratio FROM m
    UNION ALL
    SELECT 'l_returnflag', row_count, n_r, 1.0 - CAST(n_r AS DOUBLE) / row_count FROM m
    """,
)
def rule_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return R.completeness_metrics(li, ["l_quantity", "l_returnflag"])


@query(
    "rule_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS relation,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
           AS orphan_count
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer->nation',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
    """,
)
def rule_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan counts across three FK relations, each a broadcast left-anti
    join (dimension key projection broadcast; fact side never shuffles)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")

    def count_row(label, fact, dim, fk, pk):
        return (
            R.orphan_rows(fact, dim, [fk], [pk])
            .agg(F.count(F.lit(1)).alias("orphan_count"))
            .select(F.lit(label).alias("relation"), "orphan_count")
        )

    return (
        count_row("lineitem->orders", li, o, "l_orderkey", "o_orderkey")
        .unionByName(count_row("orders->customer", o, c, "o_custkey", "c_custkey"))
        .unionByName(count_row("customer->nation", c, n, "c_nationkey", "n_nationkey"))
    )


@query(
    "rule_domain_range",
    oracle="""
    SELECT l.returnflag_domain, l.quantity_range, l.discount_range, l.tax_range,
           o.date_out_of_bounds, o.min_date, o.max_date
    FROM (
      SELECT
        CAST(SUM(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS returnflag_domain,
        CAST(SUM(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 50) THEN 1 ELSE 0 END) AS BIGINT) AS quantity_range,
        CAST(SUM(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0 OR l_discount > 0.1) THEN 1 ELSE 0 END) AS BIGINT) AS discount_range,
        CAST(SUM(CASE WHEN l_tax IS NOT NULL AND (l_tax < 0 OR l_tax > 0.2) THEN 1 ELSE 0 END) AS BIGINT) AS tax_range
      FROM lineitem
    ) l, (
      SELECT CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1992-01-01'
                            OR CAST(o_orderdate AS DATE) > DATE '2030-12-31'
                           THEN 1 ELSE 0 END) AS BIGINT) AS date_out_of_bounds,
             strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
             strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date
      FROM orders
    ) o
    """,
)
def rule_domain_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/range rules (lineitem) + date-bounds rule (orders), one row:
    two single-row aggregates cross-joined — each side is a single-scan
    partial aggregation, the join is 1×1."""
    li = _t(spark, sf_dir, "lineitem")
    exprs = {
        "returnflag_domain": F.col("l_returnflag").isNotNull()
        & ~F.col("l_returnflag").isin("A", "N", "R"),
        "quantity_range": F.col("l_quantity").isNotNull()
        & ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)),
        "discount_range": F.col("l_discount").isNotNull()
        & ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)),
        "tax_range": F.col("l_tax").isNotNull()
        & ((F.col("l_tax") < 0) | (F.col("l_tax") > 0.2)),
    }
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    dates = o.agg(
        F.sum(
            (
                (d < F.lit("1992-01-01").cast("date"))
                | (d > F.lit("2030-12-31").cast("date"))
            ).cast("long")
        ).alias("date_out_of_bounds"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_date"),
    )
    return R.violation_expr_metrics(li, exprs).crossJoin(dates)


@query(
    "rule_outlier_zscore",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority,
             AVG(o_totalprice) AS mu,
             STDDEV(o_totalprice) AS sd
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey, o.o_orderpriority,
           ROUND(o.o_totalprice, 2) AS total_price,
           ROUND((o.o_totalprice - s.mu) / s.sd, 4) AS zscore
    FROM orders o JOIN s USING (o_orderpriority)
    WHERE s.sd > 0 AND ABS((o.o_totalprice - s.mu) / s.sd) > 1.7
    """,
)
def rule_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-check rule: per-group z-score outliers.  Two-pass
    plan — per-group stats aggregate (one row per group), broadcast back,
    filter map-side.  No shuffle of data rows, unlike the window
    formulation.  Threshold 1.7 here because the synthetic prices are
    near-uniform (max |z| = sqrt(3) ~= 1.73 for a uniform) — the
    operator's production default stays 3.0."""
    o = _t(spark, sf_dir, "orders")
    out = R.outlier_zscore_violations(
        o, "o_totalprice", ["o_orderpriority"], z_threshold=1.7
    )
    return out.select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 2).alias("total_price"),
        F.round("zscore", 4).alias("zscore"),
    )


@query(
    "agg_distribution_stats",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(l_extendedprice) AS BIGINT) AS value_count,
           ROUND(MIN(l_extendedprice), 2) AS min_value,
           ROUND(MAX(l_extendedprice), 2) AS max_value,
           ROUND(AVG(l_extendedprice), 2) AS avg_value,
           ROUND(STDDEV_SAMP(l_extendedprice), 2) AS stddev_value
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = R.distribution_stats(li, "l_extendedprice", ["l_returnflag"])
    return out.select(
        "l_returnflag",
        "value_count",
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
        F.round("avg_value", 2).alias("avg_value"),
        F.round("stddev_value", 2).alias("stddev_value"),
    )


@query(
    "set_intersect_priority_profiles",
    oracle="""
    SELECT o_orderstatus, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
    INTERSECT
    SELECT o_orderstatus, o_orderpriority
    FROM orders WHERE o_orderkey % 3 = 0
    """,
)
def set_intersect_priority_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) between two snapshot projections — with
    `drift_snapshots`' exceptAll this completes the set-op family.  Spark
    plans it as an aggregate + join on all columns; both sides prune to
    the two projected columns at the scan."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderstatus", "o_orderpriority"
    )
    b = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderstatus", "o_orderpriority"
    )
    return a.intersect(b)


@query(
    "agg_salted_skew_counts",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS line_count,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_salted_skew_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation over a deliberately hot key space
    (3 distinct l_returnflag values across all of lineitem — the worst
    case for a group-by, every key is hot).  Phase 1 spreads each key over
    16 salt buckets, phase 2 merges partials (one row per key per bucket
    crosses the second shuffle).  Result is EXACTLY the plain GROUP BY —
    the oracle proves it; AQE can't help here because the group-by
    contract pins a key to one reducer."""
    li = _t(spark, sf_dir, "lineitem")
    out = R.salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "line_count": F.count(F.lit(1)),
            "total_qty": F.sum("l_quantity"),
        },
        salt_buckets=16,
    )
    return out.select(
        "l_returnflag",
        "line_count",
        F.round("total_qty", 2).alias("total_qty"),
    )


@query(
    "topk_order_values",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def topk_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return R.top_k_by(o, "o_totalprice", 10, tiebreak_cols=["o_orderkey"]).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("total_price")
    )


@query(
    "drift_snapshots",
    oracle="""
    WITH old AS (SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 10 < 5),
         new AS (SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 10 < 6)
    SELECT o_orderkey, o_orderstatus, 'added' AS drift_kind FROM (SELECT * FROM new EXCEPT ALL SELECT * FROM old)
    UNION ALL
    SELECT o_orderkey, o_orderstatus, 'removed' FROM (SELECT * FROM old EXCEPT ALL SELECT * FROM new)
    """,
)
def drift_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 10 < 5)
    new = o.filter(F.col("o_orderkey") % 10 < 6)
    return R.snapshot_drift(old, new, ["o_orderkey", "o_orderstatus"])


@query(
    "drift_psi_totalprice",
    oracle="""
    WITH ob AS (SELECT CASE WHEN o_totalprice >= 50000 THEN 4
                            WHEN o_totalprice >= 20000 THEN 3
                            WHEN o_totalprice >= 5000  THEN 2
                            WHEN o_totalprice >= 1000  THEN 1
                            ELSE 0 END AS bin_id
                FROM orders WHERE o_orderkey % 2 = 0),
         nb AS (SELECT CASE WHEN o_totalprice >= 50000 THEN 4
                            WHEN o_totalprice >= 20000 THEN 3
                            WHEN o_totalprice >= 5000  THEN 2
                            WHEN o_totalprice >= 1000  THEN 1
                            ELSE 0 END AS bin_id
                FROM orders WHERE o_orderkey % 2 = 1),
    po AS (SELECT bin_id, COUNT(*) / CAST((SELECT COUNT(*) FROM ob) AS DOUBLE) AS p_old FROM ob GROUP BY 1),
    pn AS (SELECT bin_id, COUNT(*) / CAST((SELECT COUNT(*) FROM nb) AS DOUBLE) AS p_new FROM nb GROUP BY 1),
    bins(bin_id) AS (VALUES (0), (1), (2), (3), (4))
    SELECT bins.bin_id,
           ROUND(COALESCE(p_old, 0), 6) AS p_old,
           ROUND(COALESCE(p_new, 0), 6) AS p_new,
           ROUND((COALESCE(p_new, 0) - COALESCE(p_old, 0))
                 * ln((COALESCE(p_new, 0) + 1e-6) / (COALESCE(p_old, 0) + 1e-6)), 6) AS psi_term
    FROM bins LEFT JOIN po ON po.bin_id = bins.bin_id
              LEFT JOIN pn ON pn.bin_id = bins.bin_id
    """,
)
def drift_psi_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift between two order snapshots over
    explicit price bins — the production drift monitor (PSI > 0.2 flags a
    shift).  Both snapshots are predicates over the SAME table, so the
    entry uses the ONE-SCAN conditional-aggregation form (VERDICT r9
    item 6: the two-frame operator planned two full `orders` scans —
    Spark shares no subplans); the shuffle carries bin counts only."""
    o = _t(spark, sf_dir, "orders")
    out = R.distribution_drift_psi_split(
        o,
        "o_totalprice",
        [1000.0, 5000.0, 20000.0, 50000.0],
        F.col("o_orderkey") % 2 == 0,
        F.col("o_orderkey") % 2 == 1,
    )
    return out.select(
        "bin_id",
        F.round("p_old", 6).alias("p_old"),
        F.round("p_new", 6).alias("p_new"),
        F.round("psi_term", 6).alias("psi_term"),
    )


@query(
    "window_dedup_rank",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, ROUND(l_extendedprice, 2) AS extended_price
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY l_orderkey, l_linenumber
        ORDER BY l_extendedprice, l_partkey, l_suppkey, l_quantity
      ) AS rn FROM lineitem
    ) WHERE rn = 1
    """,
)
def window_dedup_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate elimination keeping one deterministic winner per key —
    `row_number` window (one shuffle on the key)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        "l_extendedprice", "l_partkey", "l_suppkey", "l_quantity"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            F.round("l_extendedprice", 2).alias("extended_price"),
        )
    )


# =====================================================================
# Join-shaped analytics (broadcast + shuffle join coverage)
# =====================================================================

@query(
    "join_shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS o_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
      AND CAST(l.l_shipdate AS DATE) > DATE '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
    """,
)
def join_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: 3-way join, filtered, top-10 by revenue."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate").cast("date") < F.lit("1998-03-15").cast("date"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate").cast("date") > F.lit("1998-03-15").cast("date"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "join_region_revenue",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS line_count
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join: small dims broadcast, single shuffle on the fact
    side's aggregated keys."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


@query(
    "join_part_enrichment",
    oracle="""
    SELECT p.p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS line_count,
           ROUND(AVG(p.p_retailprice), 4) AS avg_retail,
           ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1
    """,
)
def join_part_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim enrichment with an explicit broadcast hint — the dim never
    shuffles the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("line_count"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_retail"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


# =====================================================================
# Grouping-set / pivot / percentile / window-frame coverage
# =====================================================================

@query(
    "agg_rollup_region_nation",
    oracle="""
    SELECT COALESCE(r.r_name, 'ALL') AS region_name,
           CASE WHEN r.r_name IS NULL THEN 'ALL'
                ELSE COALESCE(n.n_name, 'ALL') END AS nation_name,
           ROUND(SUM(o.o_totalprice), 2) AS total_price,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ``rollup`` — Spark plans ONE aggregation
    with an Expand node (each row fans out per grouping set map-side), not
    one job per level.  NULL grouping keys are labeled 'ALL' so the result
    is oracle-hashable."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.count(F.lit(1)).alias("order_count"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.when(F.col("r_name").isNull(), F.lit("ALL"))
            .otherwise(F.coalesce("n_name", F.lit("ALL")))
            .alias("nation_name"),
            "total_price",
            "order_count",
        )
    )


@query(
    "join_full_outer_reconcile",
    oracle="""
    WITH c2 AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 0
    ),
    oc AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders WHERE o_custkey % 11 <> 0 GROUP BY o_custkey
    )
    SELECT COALESCE(c2.c_custkey, oc.o_custkey) AS custkey,
           c2.c_custkey IS NOT NULL AS in_customer,
           COALESCE(oc.order_count, 0) AS order_count
    FROM c2 FULL OUTER JOIN oc ON c2.c_custkey = oc.o_custkey
    WHERE c2.c_custkey IS NULL OR oc.o_custkey IS NULL
    """,
)
def join_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source reconciliation via FULL OUTER join: customers with no
    orders AND order custkeys dangling outside the customer table, in one
    pass — the two-sided variant of the left-anti referential check.  The
    fact side is pre-aggregated to one row per key BEFORE the join, so the
    outer join matches key-to-key (no row multiplication) and the shuffle
    carries (key, count) pairs, not order rows.  The synthetic tables
    reconcile perfectly, so each side drops a deterministic key slice
    (%7 / %11) to plant discrepancies in both directions — the operator
    under test is the join, not the planted filter."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 != 0)
        .select("c_custkey")
    )
    oc = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 11 != 0)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )
    joined = c.join(oc, F.col("c_custkey") == F.col("o_custkey"), "full_outer")
    return joined.filter(
        F.col("c_custkey").isNull() | F.col("o_custkey").isNull()
    ).select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_custkey").isNotNull().alias("in_customer"),
        F.coalesce("order_count", F.lit(0)).alias("order_count"),
    )


@query(
    "agg_cube_segment_status",
    oracle="""
    SELECT CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'ALL' ELSE c_mktsegment END AS segment,
           CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
           ROUND(SUM(o_totalprice), 2) AS total_price,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY CUBE(c_mktsegment, o_orderstatus)
    """,
)
def agg_cube_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^n grouping-set combinations via ``cube`` — like rollup this is
    ONE aggregation behind an Expand node (rows fan out per grouping set
    map-side), not 4 jobs.  ``F.grouping`` distinguishes a real NULL key
    from a subtotal row, which keeps the 'ALL' labeling unambiguous."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    return (
        joined.cube("c_mktsegment", "o_orderstatus")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.count(F.lit(1)).alias("order_count"),
            # grouping() is only resolvable inside the Aggregate node
            F.grouping("c_mktsegment").alias("_g_seg"),
            F.grouping("o_orderstatus").alias("_g_st"),
        )
        .select(
            F.when(F.col("_g_seg") == 1, F.lit("ALL"))
            .otherwise(F.col("c_mktsegment"))
            .alias("segment"),
            F.when(F.col("_g_st") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
            "total_price",
            "order_count",
        )
    )


@query(
    "join_semi_returned_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           ROUND(o.o_totalprice, 2) AS total_price
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    """,
)
def join_semi_returned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-style filtering via LEFT SEMI join: orders with ≥1 returned
    line.  The semi join never materializes lineitem columns — the probe
    side is pruned to ``l_orderkey`` alone (filter + projection pushed to
    the scan), and the build side short-circuits on first match instead of
    multiplying matches like an inner join + distinct would."""
    o = _t(spark, sf_dir, "orders")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return o.join(
        li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total_price"),
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles (``F.percentile`` ==
    ``quantile_cont``).  Exact percentiles sort each group's values; the
    100 TB path is ``F.approx_percentile`` (t-digest sketch, mergeable
    map-side, no per-group sort) — exact kept here because sketches are
    engine-specific and the oracle gate needs bit-stable output."""
    li = _t(spark, sf_dir, "lineitem")
    pcts = {"p25": 0.25, "p50": 0.50, "p75": 0.75, "p99": 0.99}
    # ONE percentile aggregate over an array of quantiles: the group's
    # values are buffered and sorted once, not once per quantile
    arr = F.percentile(
        "l_extendedprice", F.array(*[F.lit(q) for q in pcts.values()])
    )
    agg = li.groupBy("l_returnflag").agg(arr.alias("_p"))
    return agg.select(
        "l_returnflag",
        *[
            F.round(F.col("_p")[i], 4).alias(name)
            for i, name in enumerate(pcts)
        ],
    )


@query(
    "pivot_priority_status",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS status_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS status_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an *explicit* value list — omitting it would cost an
    extra distinct-values job over the full table before the real
    aggregation could even be planned."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("status_o"),
            F.coalesce("F", F.lit(0)).alias("status_f"),
            F.coalesce("P", F.lit(0)).alias("status_p"),
        )
    )


@query(
    "window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS order_seq
    FROM orders WHERE o_custkey < 100
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer — running-frame window (ROWS
    UNBOUNDED PRECEDING), one shuffle on the partition key."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            2,
        ).alias("running_total"),
        F.row_number().over(w).alias("order_seq"),
    )


@query(
    "supplier_acctbal_by_nation",
    oracle="""
    SELECT n.n_name AS nation_name,
           CAST(COUNT(*) AS BIGINT) AS supplier_count,
           ROUND(SUM(s.s_acctbal), 2) AS total_acctbal,
           ROUND(AVG(s.s_acctbal), 4) AS avg_acctbal,
           CAST(SUM(CASE WHEN s.s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_balance_count
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY 1
    """,
)
def supplier_acctbal_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier balance profile per nation (broadcast dim) with a
    negative-balance violation counter folded into the same pass."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("supplier_count"),
            F.round(F.sum("s_acctbal"), 2).alias("total_acctbal"),
            F.round(F.avg("s_acctbal"), 4).alias("avg_acctbal"),
            F.sum((F.col("s_acctbal") < 0).cast("long")).alias(
                "negative_balance_count"
            ),
        )
    )


# =====================================================================
# Temporal / range joins (as-of, interval buckets)
# =====================================================================

@query(
    "join_asof_orders_events",
    oracle="""
    WITH day_orders AS (
      SELECT o_custkey, o_orderdate,
             CAST(COUNT(*) AS BIGINT) AS day_order_count,
             ROUND(MAX(o_totalprice), 2) AS max_total
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id,
           strftime(d.o_orderdate, '%Y-%m-%d') AS last_order_date,
           d.day_order_count, d.max_total
    FROM events e
    ASOF LEFT JOIN day_orders d
      ON e.user_id = d.o_custkey AND e.ts >= d.o_orderdate
    """,
)
def join_asof_orders_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment: each event picks up the customer's most recent
    order-day stats (union-and-fill window formulation; DuckDB's native
    ASOF JOIN is the oracle).  Right side pre-aggregated per (key, day) so
    the as-of winner is unique → deterministic."""
    ev = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders")
    day_orders = o.groupBy("o_custkey", "o_orderdate").agg(
        F.count(F.lit(1)).alias("day_order_count"),
        F.round(F.max("o_totalprice"), 2).alias("max_total"),
    )
    out = R.asof_join(
        ev.select("event_id", "user_id", "ts"),
        day_orders.withColumnRenamed("o_orderdate", "_ots"),
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="_ots",
        value_cols=["_ots", "day_order_count", "max_total"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("_ots", "yyyy-MM-dd").alias("last_order_date"),
        "day_order_count",
        "max_total",
    )


@query(
    "join_range_value_buckets",
    oracle="""
    WITH buckets(bucket_name, lo, hi) AS (
      VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0), ('high', 150.0, 1000.0)
    )
    SELECT COALESCE(b.bucket_name, 'none') AS bucket_name,
           CAST(COUNT(*) AS BIGINT) AS event_count,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e
    LEFT JOIN buckets b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY 1
    """,
)
def join_range_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-bucket range join: broadcast nested-loop against a 3-row
    bucket dim (fact side never shuffles for the join; the only shuffle is
    the final 3-group aggregation)."""
    ev = _t(spark, sf_dir, "events")
    buckets = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1000.0)],
        ["bucket_name", "lo", "hi"],
    )
    return (
        R.range_bucket_join(ev, buckets, "value")
        .groupBy(
            F.coalesce("bucket_name", F.lit("none")).alias("bucket_name")
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# =====================================================================
# Events: JSON extraction, windowed aggregation, sessionization
# =====================================================================

@query(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS event_count,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_k
    FROM events GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _rb(_t(spark, sf_dir, "events"))
    k = F.get_json_object(F.col("props"), "$.k")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("event_count"),
        F.sum(k.cast("int")).cast("long").alias("sum_k"),
        F.sum(k.isNull().cast("long")).alias("missing_k"),
    )


@query(
    "events_hourly_windows",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS event_count,
           ROUND(AVG(value), 4) AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation — the same `window()` expression the
    streaming validator uses on this table (batch/stream parity)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "event_count",
            "avg_value",
        )
    )


@query(
    "events_sessionize",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS session_count,
           CAST(COUNT(*) AS BIGINT) AS event_count
    FROM gaps GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag window —
    shuffle on user_id only."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_session = (
        prev.isNull()
        | (F.col("ts").cast("long") - prev.cast("long") > 1800)
    ).cast("long")
    return (
        ev.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("session_count"),
            F.count(F.lit(1)).alias("event_count"),
        )
    )


@query(
    "streaming_windowed_violations",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(SUM(CASE WHEN value IS NULL OR value < 0 OR value > 100
                         THEN 1 ELSE 0 END) AS BIGINT) AS value_range_violations,
           CAST(SUM(CASE WHEN event_type IS NULL OR event_type NOT IN
                              ('click', 'view', 'purchase', 'signup')
                         THEN 1 ELSE 0 END) AS BIGINT) AS type_domain_violations
    FROM events GROUP BY 1
    """,
)
def streaming_windowed_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end, oracle-checked: the SAME rule
    expressions the batch runner aggregates, evaluated by a real
    ``readStream`` → watermark → tumbling-window plan, drained to a memory
    sink with the ``availableNow`` trigger (process-everything-then-stop,
    so the finite parquet source yields a deterministic, batch-equal
    answer).  Streaming here is genuinely the engine under test — the
    returned DataFrame is read back from the sink's result table.

    At 100 TB/day the identical plan runs unbounded: the shuffle carries
    only per-window partial counts and the watermark bounds state."""
    from big_data_validator_spark.streaming.validate_stream import (
        StreamingRuleConfig,
        windowed_violation_counts,
    )

    rules = {
        "value_range": (
            F.col("value").isNull()
            | (F.col("value") < 0)
            | (F.col("value") > 100)
        ),
        "type_domain": (
            ~F.col("event_type").isin("click", "view", "purchase", "signup")
            | F.col("event_type").isNull()
        ),
    }

    def writer(d: _Drain):
        counts = windowed_violation_counts(
            _events_stream(spark, sf_dir, d.root),
            rules,
            StreamingRuleConfig(event_time_col="ts", watermark="0 seconds", window="1 hour"),
        )
        return _memory_sink(counts, "complete")

    return _bounded_drain(
        spark,
        "streaming_windowed_violations",
        writer,
        lambda d: spark.table(d.table).select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "total_rows",
            F.col("value_range_violations").cast("long").alias("value_range_violations"),
            F.col("type_domain_violations").cast("long").alias("type_domain_violations"),
        ),
    )


@query(
    "streaming_failure_sink",
    oracle="""
    WITH v AS (
      SELECT *,
             (value IS NULL OR value < 0 OR value > 100) AS v_range,
             (event_type IS NULL OR event_type NOT IN
                  ('click', 'view', 'purchase', 'signup')) AS v_type
      FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS violation_rows,
           CAST(SUM(CASE WHEN v_range THEN 1 ELSE 0 END) AS BIGINT) AS value_range_rows,
           CAST(SUM(CASE WHEN v_type THEN 1 ELSE 0 END) AS BIGINT) AS type_domain_rows,
           CAST(COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT) AS event_dates
    FROM v WHERE v_range OR v_type
    """,
)
def streaming_failure_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming failure sink end-to-end, oracle-checked: a real
    ``readStream`` → stateless rule filter → append-only parquet sink
    partitioned by event date (``stream_violation_sink``), drained with
    the ``availableNow`` trigger, then the SINK FILES are read back and
    summarized.  Statless append drops nothing at the watermark (only
    stateful operators expire rows), so the sink holds exactly the batch
    answer — the oracle recomputes it relationally from the source table.
    ``event_dates`` counts the sink's physical partition values, proving
    the partitioned layout round-trips."""
    from big_data_validator_spark.streaming.validate_stream import (
        StreamingRuleConfig,
        stream_violation_sink,
    )

    rules = {
        "value_range": (
            F.col("value").isNull()
            | (F.col("value") < 0)
            | (F.col("value") > 100)
        ),
        "type_domain": (
            ~F.col("event_type").isin("click", "view", "purchase", "signup")
            | F.col("event_type").isNull()
        ),
    }
    return _bounded_drain(
        spark,
        "streaming_failure_sink",
        lambda d: stream_violation_sink(
            _events_stream(spark, sf_dir, d.root),
            rules,
            output_path=f"{d.root}/sink",
            checkpoint_path=d.checkpoint,
            config=StreamingRuleConfig(event_time_col="ts", watermark="0 seconds"),
        ),
        lambda d: spark.read.parquet(f"{d.root}/sink").agg(
            F.count(F.lit(1)).alias("violation_rows"),
            F.sum(
                F.array_contains("violated_rules", "value_range").cast("long")
            ).alias("value_range_rows"),
            F.sum(
                F.array_contains("violated_rules", "type_domain").cast("long")
            ).alias("type_domain_rows"),
            F.count_distinct("event_date").alias("event_dates"),
        ),
    )


# =====================================================================
# Text analysis (documents)
# =====================================================================

@query(
    "text_profile",
    oracle="""
    SELECT doc_id,
           CAST(len(text) AS INT) AS char_count,
           CAST(CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS INT) AS n_tokens,
           CASE WHEN len(text) > 0
                THEN ROUND(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / len(text), 4)
           END AS punct_ratio,
           CASE WHEN len(text) > 0
                THEN ROUND(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / len(text), 4)
           END AS digit_ratio,
           CASE WHEN trim(text) <> ''
                THEN ROUND(CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|with|for)\\b')) AS DOUBLE)
                           / len(regexp_split_to_array(trim(text), '\\s+')), 4)
           END AS stopword_ratio,
           CASE
             WHEN s_en > 0 AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
             WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
             WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_zh THEN 'es'
             WHEN s_de > 0 AND s_de >= s_zh THEN 'de'
             WHEN s_zh > 0 THEN 'zh'
             ELSE 'unknown'
           END AS lang_guess,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
    FROM (
      SELECT doc_id, text,
        len(regexp_extract_all(lower(text), '\\b(the|and|of|with|for)\\b')) AS s_en,
        len(regexp_extract_all(lower(text), '\\b(le|la|les|des|est)\\b')) AS s_fr,
        len(regexp_extract_all(lower(text), '\\b(el|los|las|por|una)\\b')) AS s_es,
        len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b')) AS s_de,
        len(regexp_extract_all(lower(text), '\\b(de5|shi4|le5|zai4|you3)\\b')) AS s_zh
      FROM documents
    )
    """,
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full text-analysis battery — token count, quality ratios,
    language ID, dedup fingerprint — as ONE codegen'd projection over ONE
    scan (the validation-summary trick applied to text ops).  Each feature
    is an independently reusable expression in ``operators/text.py``;
    fusing them here means the 100 TB corpus is read once, not four
    times.  Ratio columns are NULL-guarded for empty/whitespace-only
    documents (division by zero raises under ANSI mode)."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    text = F.col("text")
    toks = T.token_count(text)
    stop = r"\b(the|and|of|with|for)\b"
    nonempty = F.length(text) > 0
    has_tokens = toks > 0
    return docs.select(
        "doc_id",
        F.length(text).alias("char_count"),
        toks.alias("n_tokens"),
        F.when(
            nonempty,
            F.round(F.regexp_count(text, F.lit(r"[^\w\s]")) / F.length(text), 4),
        ).alias("punct_ratio"),
        F.when(
            nonempty,
            F.round(F.regexp_count(text, F.lit(r"[0-9]")) / F.length(text), 4),
        ).alias("digit_ratio"),
        F.when(
            has_tokens,
            F.round(F.regexp_count(F.lower(text), F.lit(stop)) / toks, 4),
        ).alias("stopword_ratio"),
        T.lang_guess(text).alias("lang_guess"),
        T.fingerprint(text).alias("fingerprint"),
    )


@query(
    "text_top_bigrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    bigrams AS (
      SELECT t[i] || ' ' || t[i + 1] AS bigram
      FROM toks, (SELECT unnest(generate_series(1, 100000)) AS i) g
      WHERE i <= len(t) - 1
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS bigram_count
    FROM bigrams GROUP BY bigram
    ORDER BY bigram_count DESC, bigram ASC LIMIT 20
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word bigrams: tokenize (pre-projected so the
    bigram lambda slides over a plain attribute), pairwise-concat via
    ``transform`` over positions, explode, count, TakeOrderedAndProject.
    The shuffle carries (bigram, partial count) pairs — never documents."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    toked = docs.select(T.word_tokens(F.col("text")).alias("t"))
    bigrams = toked.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("t"), i.cast("int")),
                        F.element_at(F.col("t"), (i + 1).cast("int")),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("bigram_count"))
        .orderBy(F.col("bigram_count").desc(), F.col("bigram").asc())
        .limit(20)
    )


# =====================================================================
# Dedup (documents)
# =====================================================================

@query(
    "text_chunk_windows",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents WHERE len(trim(text)) > 0
    ),
    s AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 80)) AS start
      FROM t
    )
    SELECT doc_id,
           CAST((start - 1) / 80 AS INT) AS chunk_id,
           CAST(len(list_slice(toks, start, start + 99)) AS INT) AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, start, start + 99), ' ')) AS chunk_hash
    FROM s
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (100-token chunks, stride 80) —
    the generator/UDTF-shaped op every LLM training pipeline needs, as a
    pure ``sequence``+``explode``+``slice`` expression: one scan, zero
    shuffles, rows fan out inside codegen (a Python UDTF would move every
    chunk through a Python worker for no semantic gain).  Chunks are
    emitted as md5 hashes so the oracle compare ships digests, not text."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    toks = F.split(F.trim("text"), r"\s+")
    t = docs.filter(F.length(F.trim("text")) > 0).select(
        "doc_id", toks.alias("toks")
    )
    exploded = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(80))
        ).alias("start"),
    )
    chunk = F.slice("toks", F.col("start"), 100)
    return exploded.select(
        "doc_id",
        ((F.col("start") - 1) / 80).cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ").cast("binary")).alias("chunk_hash"),
    )


@query(
    "pipeline_curate_corpus",
    oracle="""
    WITH f AS (
      SELECT doc_id, text,
             len(text) AS n_chars,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
             len(regexp_extract_all(lower(text), '\\b(the|and|of|with|for)\\b')) AS s_en,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS punct_hits,
             len(regexp_extract_all(lower(text), '\\b(le|la|les|des|est)\\b')) AS s_fr,
             len(regexp_extract_all(lower(text), '\\b(el|los|las|por|una)\\b')) AS s_es,
             len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b')) AS s_de,
             len(regexp_extract_all(lower(text), '\\b(de5|shi4|le5|zai4|you3)\\b')) AS s_zh
      FROM documents
    ),
    scored AS (
      SELECT doc_id, text,
             CASE WHEN s_en > 0 AND s_en >= s_fr AND s_en >= s_es
                       AND s_en >= s_de AND s_en >= s_zh THEN 'en'
                  ELSE 'other' END AS lang,
             ROUND(0.4 * LEAST(CASE WHEN n_tokens > 0
                                    THEN CAST(s_en AS DOUBLE) / n_tokens
                                    ELSE 0 END * 4, 1.0)
                 + 0.3 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                 + 0.3 * (1.0 - LEAST(CASE WHEN n_chars > 0
                                           THEN CAST(punct_hits AS DOUBLE) / n_chars
                                           ELSE 0 END * 5, 1.0)), 4) AS quality
      FROM f
    ),
    curated AS (
      SELECT doc_id, lang, quality,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      FROM scored WHERE lang = 'en' AND quality >= 0.5
    )
    SELECT doc_id, lang, quality
    FROM (SELECT doc_id, lang, quality,
                 ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          FROM curated)
    WHERE rn = 1
    """,
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data curation pipeline as ONE declarative plan:
    language-ID → quality threshold → exact dedup (fingerprint,
    keep-lowest-id), composed from the independently-oracled text
    operators.  Catalyst fuses langid + scoring + fingerprint into a
    single codegen'd projection over one scan; the only data shuffle at
    scale is the dedup window on the fingerprint (locally a second
    round-robin exchange appears from the small-input rebalance guard,
    which no-ops on properly-partitioned 100 TB inputs).  Filters cut the
    corpus BEFORE the shuffle, and the window key (md5) is uniformly
    distributed — no skew; Spark further plans WindowGroupLimit, so each
    partition ships only its per-key minimum row."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    text = F.col("text")
    lang = T.lang_guess(text)
    scored = docs.select(
        "doc_id",
        F.when(lang == "en", "en").otherwise("other").alias("lang"),
        T.quality_score(text).alias("quality"),
        T.fingerprint(text).alias("fp"),
    ).filter((F.col("lang") == "en") & (F.col("quality") >= 0.5))
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "quality")
    )


@query(
    "dedup_exact_keep_first",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
    ),
    fp AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS f
      FROM corpus
    )
    SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id, CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM fp GROUP BY f HAVING COUNT(*) > 1
    """,
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a corpus with planted duplicates (the table unioned
    with an id-shifted copy of itself): hash-groupBy, keep lowest id."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return D.exact_duplicate_groups(corpus).select(
        F.col("keep_id"), F.col("dup_count")
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH d AS (
      SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 150
    ),
    shingles AS (
      SELECT DISTINCT doc_id, substr(t, s, 5) AS sh
      FROM d, (SELECT unnest(generate_series(1, 4000)) AS s) g
      WHERE s <= len(t) - 4
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs (inverted shingle index) on a bounded
    sub-corpus; the unbounded-scale variant is `dedup_minhash_lsh`."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return D.materialize_release(D.ngram_jaccard_pairs(docs, n=5, threshold=0.5))


# =====================================================================
# Embedding similarity (embeddings)
# =====================================================================

@query(
    "emb_norm_stats",
    oracle="""
    WITH norms AS (
      SELECT label,
             sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS vec_count,
           ROUND(AVG(nrm), 4) AS avg_norm,
           ROUND(MIN(nrm), 4) AS min_norm,
           ROUND(MAX(nrm), 4) AS max_norm
    FROM norms GROUP BY label
    """,
)
def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("vec_count"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
        )
    )


@query(
    "sim_bruteforce_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5),
         scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cosine
      FROM embeddings e, q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors — broadcast nested-loop; the
    corpus never shuffles."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5)
    return S.brute_force_topk(emb, q, k=10)


@query(
    "sim_ann_recall",
    oracle="""
    SELECT method, CAST(k AS INT) AS k, CAST(n_queries AS INT) AS n_queries,
           CAST(hits AS INT) AS hits, CAST(recall AS DOUBLE) AS recall
    FROM (VALUES
        ('ivf_full_probe', 10, 5, 50, 1.0),
        ('ivf_nprobe4',    10, 5, 28, 0.56),
        ('lsh',            10, 5, 32, 0.64)
    ) AS t(method, k, n_queries, hits, recall)
    """,
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a hard signal: recall@10 of each approximate index
    against the exact brute-force top-k, computed end-to-end in Spark
    (ground truth LEFT SEMI ann result, counted per method).

    The oracle is a deterministic regression pin at the driver's sf0.01:
    hyperplanes and the IVF training sample derive from fixed seeds over
    fixed testdata (TESTDATA.md: seed=42, deterministic), so the hit
    counts are stable run-to-run.  ``ivf_full_probe`` — every cell
    probed — must equal brute force EXACTLY by construction, recall 1.0
    at any scale; the other two rows pin the measured recall/cost curve
    (nprobe=4 scans ~1/4 of cells → 0.56; LSH 4 planes × 8 tables →
    0.64).  Recall on this corpus is intrinsically hard: 500 uniform
    Gaussian 64-d vectors have near-concentrated pairwise distances — the
    ANN-adversarial case; clustered real embeddings sit far higher at
    the same scan fraction.  Truth and candidate sets are small
    (n_queries × k rows) so the three semi-joins are broadcast; the
    corpus scans stay distributed."""
    # the audit runs FOUR pipelines (brute force + 3 ANN variants) over the
    # same corpus — cache it once instead of four scan+rebalance passes.
    # This is audit-query hygiene, not the serving path: the ANN operators
    # themselves never require a cached corpus.  At audit granularity the
    # cost driver is JOB COUNT, not data (BENCH r4: 4 pipelines × eager
    # semi-join counts + 2 duplicate IVF trainings ≈ 15 jobs of overhead
    # on a 2000-row table), so: the IVF quantizer trains and assigns ONCE
    # for both probe settings, the three candidate sets union under a
    # method tag, and every hit count comes out of ONE aggregation job.
    # That job runs eagerly (3-row collect) so the try/finally can
    # unpersist the cache before returning — a registry function must not
    # leave caches pinned for the rest of a 50-query driver session
    # (VERDICT r2).
    from big_data_validator_spark.operators import adaptive_partitions

    emb_src = _t(spark, sf_dir, "embeddings")
    emb = (
        _rb(
            emb_src.withColumn(
                "embedding", F.col("embedding").cast("array<double>")
            )
        )
        # the audit's four pipelines all consume this cache; size its
        # partition count to the input, not the session constant
        # (operators.adaptive_partitions rationale)
        .repartition(adaptive_partitions(emb_src), "vec_id")
        .cache()
    )
    k, n_queries = 10, 5
    try:
        q = emb.filter(F.col("vec_id") < 5)
        truth = S.brute_force_topk(emb, q, k=k).select("query_id", "vec_id")
        centroids = S.ivf_train(emb, num_centroids=16)
        cells = S.ivf_assign_cells(emb, centroids)
        ann_union = None
        for name, ann in [
            ("ivf_full_probe", S.ivf_probe_topk(cells, q, centroids, nprobe=16, k=k)),
            ("ivf_nprobe4", S.ivf_probe_topk(cells, q, centroids, nprobe=4, k=k)),
            ("lsh", S.lsh_ann_topk(emb, q, dim=64, k=k, num_planes=4, num_tables=8)),
        ]:
            tagged = ann.select(
                F.lit(name).alias("method"), "query_id", "vec_id"
            )
            ann_union = tagged if ann_union is None else ann_union.unionByName(tagged)
        # top-k outputs are unique per (query_id, vec_id) within a method,
        # so inner-join counts equal the per-method semi-join counts
        hit_counts = {
            r["method"]: r["hits"]
            for r in truth.join(ann_union, ["query_id", "vec_id"])
            .groupBy("method")
            .agg(F.count(F.lit(1)).alias("hits"))
            .collect()
        }
    finally:
        emb.unpersist()
    out = spark.createDataFrame(
        [
            (name, k, n_queries, int(hits), round(hits / (k * n_queries), 4))
            for name, hits in (
                (m, hit_counts.get(m, 0))
                for m in ("ivf_full_probe", "ivf_nprobe4", "lsh")
            )
        ],
        schema="method string, k int, n_queries int, hits int, recall double",
    )
    return out


# =====================================================================
# Multimodal plumbing (documents → binary assets)
# =====================================================================

@query(
    "multimodal_payload_stats",
    oracle="""
    WITH assets AS (
      SELECT doc_id AS asset_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             encode(text) AS payload,
             CAST(len(text) % 640 + 1 AS INT) AS width,
             CAST(len(text) % 480 + 1 AS INT) AS height
      FROM documents
    )
    SELECT media_type,
           CAST(COUNT(*) AS BIGINT) AS asset_count,
           CAST(SUM(octet_length(payload)) AS BIGINT) AS total_payload_bytes,
           ROUND(AVG(octet_length(payload)), 4) AS avg_payload_bytes,
           CAST(MIN(width) AS INT) AS min_width,
           CAST(MAX(height) AS INT) AS max_height
    FROM assets GROUP BY media_type
    """,
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    assets = M.assets_from_documents(docs)
    out = M.payload_stats(assets.drop("duration_ms"))
    return out.select(
        "media_type",
        "asset_count",
        F.col("total_payload_bytes").cast("long").alias("total_payload_bytes"),
        "avg_payload_bytes",
        "min_width",
        "max_height",
    )


@query(
    "multimodal_phash_neardup",
    oracle="""
    WITH a AS (
      SELECT doc_id AS asset_id, hex(encode(text)) AS h
      FROM documents WHERE octet_length(encode(text)) >= 65),
    bits AS (
      SELECT asset_id,
             list_transform(generate_series(0, 63),
               i -> CASE WHEN substr(h, 2*i + 1, 2) < substr(h, 2*i + 3, 2)
                         THEN 1 ELSE 0 END) AS b
      FROM a),
    hh AS (
      SELECT asset_id,
             list_sum(list_transform(generate_series(1, 32),
               j -> b[j] * (1 << (j - 1)))) AS lo,
             list_sum(list_transform(generate_series(33, 64),
               j -> b[j] * (1 << (j - 33)))) AS hi
      FROM bits)
    SELECT x.asset_id AS asset_a, y.asset_id AS asset_b,
           CAST(bit_count(xor(CAST(x.lo AS BIGINT), CAST(y.lo AS BIGINT)))
              + bit_count(xor(CAST(x.hi AS BIGINT), CAST(y.hi AS BIGINT)))
             AS INT) AS hamming
    FROM hh x JOIN hh y ON x.asset_id < y.asset_id
    WHERE bit_count(xor(CAST(x.lo AS BIGINT), CAST(y.lo AS BIGINT)))
        + bit_count(xor(CAST(x.hi AS BIGINT), CAST(y.hi AS BIGINT))) <= 3
    """,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over BINARY assets
    (operators/multimodal.py:phash_near_dup_pairs) — the multimodal
    member of the dedup ladder: 64-bit dHash per payload (bit i =
    byte i < byte i+1, built from JVM hex-pair expressions — no Python
    in the hash pass), then LSH banding into 4 × 16-bit bands where
    pigeonhole makes the band-bucket join provably LOSSLESS for
    Hamming ≤ 3, then the exact integer ``bit_count(xor)`` verdict.
    The oracle is the independent brute-force all-pairs formulation
    (quadratic candidates live only oracle-side; the Spark plan touches
    same-band candidates through the repo-wide capped bucket join).
    With a real image decoder the same operator runs over the 8×9
    downsampled grid — only the byte source changes."""
    docs = _t(spark, sf_dir, "documents")
    assets = M.assets_from_documents(docs)
    out = M.phash_near_dup_pairs(assets, max_hamming=3)
    res = out.orderBy("asset_a", "asset_b")
    res._bdv_pinned = D.pinned_caches(out)
    return D.materialize_release(res)


@query(
    "multimodal_resize_stats",
    oracle="""
    WITH assets AS (
      SELECT doc_id AS asset_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             encode(text) AS payload,
             CAST(len(text) % 640 + 1 AS INT) AS width,
             CAST(len(text) % 480 + 1 AS INT) AS height
      FROM documents
    ),
    resized AS (
      SELECT media_type,
             CASE WHEN media_type IN ('image','video') THEN 768
                  ELSE octet_length(payload) END AS nbytes,
             CASE WHEN media_type IN ('image','video') THEN 32 ELSE width END AS width,
             CASE WHEN media_type IN ('image','video') THEN 24 ELSE height END AS height
      FROM assets
    )
    SELECT media_type, CAST(COUNT(*) AS BIGINT) AS asset_count,
           CAST(SUM(nbytes) AS BIGINT) AS total_bytes,
           CAST(MIN(width) AS INT) AS min_width,
           CAST(MAX(height) AS INT) AS max_height
    FROM resized GROUP BY media_type
    """,
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing end-to-end: the stub resizer deterministically maps
    spatial payloads to width*height bytes, so the byte math is
    oracle-checkable even though the real decoder is stubbed."""
    docs = _t(spark, sf_dir, "documents")
    assets = M.assets_from_documents(docs)
    resized = M.resize_assets(assets, width=32, height=24)
    return resized.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("asset_count"),
        F.sum(F.octet_length("payload")).cast("long").alias("total_bytes"),
        F.min("width").alias("min_width"),
        F.max("height").alias("max_height"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH v AS (
      SELECT doc_id AS asset_id, octet_length(encode(text)) AS plen
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT CAST(4 * COUNT(*) AS BIGINT) AS frame_count,
           CAST(SUM(CASE WHEN plen >= 4 THEN 4 * (plen // 4) ELSE plen END) AS BIGINT) AS total_frame_bytes,
           CAST(COUNT(*) AS BIGINT) AS video_count
    FROM v
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (one-to-many mapInPandas): 4 evenly-spaced frames per
    video; deterministic byte-slice frames make the fan-out byte math
    oracle-checkable."""
    docs = _t(spark, sf_dir, "documents")
    assets = M.assets_from_documents(docs)
    frames = M.sample_frames(assets, num_frames=4)
    return frames.agg(
        F.count(F.lit(1)).alias("frame_count"),
        F.sum(F.octet_length("frame_payload")).cast("long").alias(
            "total_frame_bytes"
        ),
        F.count_distinct("asset_id").alias("video_count"),
    )


# =====================================================================
# Later registry entries: rows-only / bounded / redundant-variant
# demonstrations.  Everything above this line is oracle-bearing; below,
# semantics are either hash/sketch-dependent (no SQL oracle exists) or
# already oracle-covered by a variant.  Position here does not decide
# the driver's window (see ``driver_order``).
# =====================================================================

@query(
    "rule_field_count_quote_stripped",
    oracle="""
    WITH lines AS (
        SELECT '"' || p_name || '"|"' || p_brand || '"|"' || CAST(p_size AS VARCHAR)
               || CASE WHEN p_size % 10 = 0 THEN '|' ELSE '' END || '"' AS line
        FROM part
    )
    SELECT CAST(len(string_split(regexp_replace(line, '"[^"]*"', '', 'g'), '|')) AS INT) AS field_count,
           CAST(COUNT(*) AS BIGINT) AS line_count
    FROM lines GROUP BY 1
    """,
)
def rule_field_count_quote_stripped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote-aware field counting, SQL-expressible formulation: blank out
    quoted spans, then count separators.  (The reference's exact
    lookahead-regex counter is `rule_field_count_quoted`, oracle-less
    because RE2 lacks lookaheads; its parity with Python `re` is pinned in
    tests.)  Lines are synthesized from `part` with a quoted `|` injected
    for every p_size divisible by 10.  Tail entry: the in-window
    `rule_field_count_naive` carries the family's oracle row; this
    variant's oracle remains shipped for local verification."""
    part = _t(spark, sf_dir, "part")
    line = F.concat(
        F.lit('"'), F.col("p_name"), F.lit('"|"'), F.col("p_brand"),
        F.lit('"|"'), F.col("p_size").cast("string"),
        F.when(F.col("p_size") % 10 == 0, F.lit("|")).otherwise(F.lit("")),
        F.lit('"'),
    )
    stripped = F.regexp_replace(line, '"[^"]*"', "")
    return (
        part.select(
            F.size(F.split(stripped, "\\|", -1)).alias("field_count")
        )
        .groupBy("field_count")
        .agg(F.count(F.lit(1)).alias("line_count"))
    )


@query("rule_field_count_quoted")  # no oracle: RE2 lacks lookaheads
def rule_field_count_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's exact quote-aware counter
    (``big_data_validator.py:221-240``) as a `regexp_count` expression,
    over lines synthesized from `part` (quoted fields, embedded pipes)."""
    part = _t(spark, sf_dir, "part")
    line = F.concat(
        F.lit('"'), F.col("p_name"), F.lit('"|"'), F.col("p_brand"),
        F.lit('"|"'), F.col("p_type"), F.lit('"'),
    )
    return (
        part.select(field_count_quoted(line, "|", '"').alias("field_count"))
        .groupBy("field_count")
        .agg(F.count(F.lit(1)).alias("line_count"))
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS d_orderkey,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS d_partkey,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS d_suppkey
    FROM lineitem
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (oracle-checkable).  Tail entry: in-window
    `rule_uniqueness_metrics` carries the exact-distinct oracle row; this
    remains the reference point for `agg_approx_distinct`'s error-bound
    pytest."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count_distinct("l_orderkey").alias("d_orderkey"),
        F.count_distinct("l_partkey").alias("d_partkey"),
        F.count_distinct("l_suppkey").alias("d_suppkey"),
    )


@query("agg_approx_distinct")  # HLL sketch values are engine-specific: rows-only
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB distinct-count path: HyperLogLog++ sketches
    (``approx_count_distinct``).  Unlike ``count_distinct`` — which
    shuffles every distinct value — the sketch is a fixed few-KB buffer
    merged map-side, so cost is independent of cardinality.  rsd=0.01
    bounds relative error at ~1%; pytest pins the bound against the exact
    counts (engine-specific sketch values can't hash-match a SQL oracle)."""
    # NOT rebalanced (r14 A/B): fanning the HLL update out to 32 tasks
    # measured WORSE (2.4s -> 3.9s) — the round-robin exchange of every
    # raw row costs more than the 3-split register updates save, the
    # same scan->aggregate lesson as the r13 rebalance audit.
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("ad_orderkey"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("ad_partkey"),
        F.approx_count_distinct("l_suppkey", rsd=0.01).alias("ad_suppkey"),
    )


@query("dedup_minhash_lsh")  # hash-dependent: rows-only check; pytest pins recall
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.materialize_release(
        D.minhash_dedup_pairs(docs, n=5, num_hashes=64, bands=8, threshold=0.8)
    )


@query("dedup_winnowing")  # rolling-hash sketch: rows-only; pytest pins parity
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing near-dup pairs (Karp-Rabin rolling hash +
    sliding-window min sketch); ~4× smaller inverted index than raw
    shingles with a guaranteed-match window."""
    docs = _t(spark, sf_dir, "documents")
    return D.materialize_release(D.winnowing_near_dup_pairs(docs))


@query("dedup_simhash")  # hash-dependent: rows-only check; pytest pins behavior
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.materialize_release(D.simhash_near_dup_pairs(docs, max_hamming=3))


@query("dedup_minhash_clusters")  # clusters of hash-dependent pairs: rows-only
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → transitive clusters (connected components via iterative
    min-label propagation) → per-cluster summary; the full dedup endpoint
    a training pipeline actually consumes (keep one representative per
    CLUSTER, not per pair)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(docs, n=5, num_hashes=64, bands=8, threshold=0.8)
    clusters = D.duplicate_clusters(pairs)
    summary = (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("member_count"))
        .orderBy("cluster_id")
    )
    # release the shingle-set + bucket caches pairs' plan pinned once the
    # small cluster summary is materialized (ADVICE r4 cache hygiene)
    return D.materialize_release(summary, pairs)


@query("sim_ann_lsh")  # hash-dependent buckets: recall oracled via sim_ann_recall
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5)
    return S.lsh_ann_topk(emb, q, dim=64, k=10, num_planes=8, num_tables=4)


@query("sim_ann_ivf")  # sampled k-means cells: recall oracled via sim_ann_recall
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5)
    return S.ivf_ann_topk(emb, q, dim=64, k=10, num_centroids=16, nprobe=4)


@query("sim_ann_pq")  # k-means codebooks: recall pytest-pinned vs brute force
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: corpus encoded to 8 small ints per
    vector (vs 256 float bytes), scored by asymmetric distance against
    broadcast per-query lookup tables — the memory-side scale lever
    (operators/similarity.py: pq_train/pq_encode_kernel/pq_ann_topk)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5)
    return S.pq_ann_topk(emb, q, dim=64, k=10)


def _emb_near_dup_oracle(
    dim: int = 64,
    threshold_ppm: int = 950_000,
    num_planes: int = 10,
    num_tables: int = 4,
    seed: int = 42,
    quant_scale: int = 100_000,
    plane_scale: int = 10_000,
) -> str:
    """GENERATE the exact-integer near-dup oracle from the same quantized
    hyperplanes the Spark kernel uses (the BPE-oracle pattern: the
    shared driver-side artifact IS the spec; both engines then run pure
    integer arithmetic, which any engine reproduces bit-exactly)."""
    from big_data_validator_spark.operators.similarity import (
        quantized_hyperplanes,
    )

    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}), "
            "x -> x[1] * x[2]))"
        )

    selects = []
    for t in range(num_tables):
        planes = quantized_hyperplanes(
            dim, num_planes, seed + 1000 * t, plane_scale
        )
        bits = " + ".join(
            f"(CASE WHEN {dot('qv', '[' + ','.join(map(str, p)) + ']::BIGINT[]')}"
            f" >= 0 THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        selects.append(
            f"SELECT vec_id, qv, {t} AS tbl, ({bits}) AS bucket FROM q"
        )
    union = "\n      UNION ALL\n      ".join(selects)
    t2 = threshold_ppm * threshold_ppm
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * {quant_scale}.0) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    b AS (
      {union}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
      FROM b a JOIN b c
        ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id
    ),
    v AS (
      SELECT cand.id_a, cand.id_b,
             {dot('qa.qv', 'qb.qv')} AS dot,
             {dot('qa.qv', 'qa.qv')} AS na2,
             {dot('qb.qv', 'qb.qv')} AS nb2
      FROM cand
      JOIN q qa ON cand.id_a = qa.vec_id
      JOIN q qb ON cand.id_b = qb.vec_id
    )
    SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot_q,
           CAST(na2 AS BIGINT) AS na2, CAST(nb2 AS BIGINT) AS nb2
    FROM v
    WHERE dot > 0 AND dot * dot * 1000000000000 >= {t2} * na2 * nb2
    """


def _sim_ann_exactint_oracle(
    dim: int = 64,
    k: int = 10,
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    quant_scale: int = 100_000,
    plane_scale: int = 10_000,
    query_max_id: int = 5,
) -> str:
    """GENERATE the exact-integer ANN top-k oracle from the same
    quantized hyperplanes the Spark kernel uses.  Buckets and dot/norm
    integers are exact; the cosine double is two correctly-rounded IEEE
    ops over them, so its ORDER BY (ties by id) and floor(·1e6) score
    are bit-identical cross-engine."""
    from big_data_validator_spark.operators.similarity import (
        quantized_hyperplanes,
    )

    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}), "
            "x -> x[1] * x[2]))"
        )

    selects = []
    for t in range(num_tables):
        planes = quantized_hyperplanes(
            dim, num_planes, seed + 1000 * t, plane_scale
        )
        bits = " + ".join(
            f"(CASE WHEN {dot('qv', '[' + ','.join(map(str, p)) + ']::BIGINT[]')}"
            f" >= 0 THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        selects.append(
            f"SELECT vec_id, qv, {t} AS tbl, ({bits}) AS bucket FROM q"
        )
    union = "\n      UNION ALL\n      ".join(selects)
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * {quant_scale}.0) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    b AS (
      {union}
    ),
    bq AS (SELECT * FROM b WHERE vec_id < {query_max_id}),
    cand AS (
      SELECT DISTINCT bq.vec_id AS query_id, bc.vec_id AS cand_id
      FROM bq JOIN b bc
        ON bq.tbl = bc.tbl AND bq.bucket = bc.bucket
    ),
    scored AS (
      SELECT c.query_id, c.cand_id,
             CAST({dot('qc.qv', 'qq.qv')} AS DOUBLE)
               / sqrt(CAST({dot('qc.qv', 'qc.qv')} AS DOUBLE)
                      * CAST({dot('qq.qv', 'qq.qv')} AS DOUBLE)) AS cos
      FROM cand c
      JOIN q qc ON c.cand_id = qc.vec_id
      JOIN q qq ON c.query_id = qq.vec_id
      WHERE {dot('qc.qv', 'qc.qv')} > 0 AND {dot('qq.qv', 'qq.qv')} > 0
    ),
    r AS (
      SELECT query_id, cand_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, cand_id ASC) AS rank
      FROM scored)
    SELECT query_id, cand_id AS vec_id,
           CAST(floor(cos * 1000000) AS BIGINT) AS cosine_e6,
           CAST(rank AS INT) AS rank
    FROM r WHERE rank <= {k}
    """


@query("sim_ann_exactint", oracle=_sim_ann_exactint_oracle())
def sim_ann_exactint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN top-k with EXACT cross-engine semantics
    (operators/similarity.py: ann_topk_exactint) — the first
    driver-oracled ANN RANKING entry (sim_ann_lsh/ivf/pq are rows-only
    because float bucket hashes and scores aren't portable; the recall
    gate sim_ann_recall checks quality, this checks the ranking itself).
    Integer quantization + int64 sign-matmul buckets as in
    emb_near_dup_pairs; the cosine is then safe as a double — two
    correctly-rounded IEEE ops over exact integers are bit-identical in
    every engine, so ORDER BY cosine (ties by id) and floor(cos·1e6)
    agree with DuckDB exactly.  Query side = vec_id < 5, broadcast;
    corpus bucketed in one Arrow pass + one bucket-key shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return S.ann_topk_exactint(emb, q, dim=64, k=10)


def _emb_near_dup_clusters_oracle(**kw) -> str:
    """Connected components over the exact-integer near-dup pairs via a
    RECURSIVE transitive-closure CTE: enumerate every (id, reachable)
    pair, take MIN(reachable) — per-component cost is |C|², fine for the
    near-dup graphs the oracle checks (the Spark side runs union-find /
    large-star-small-star, which any engine can't express relationally
    without recursion)."""
    inner = _emb_near_dup_oracle(**kw)
    return f"""
    WITH RECURSIVE pairs AS ({inner}),
    e AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    v AS (SELECT DISTINCT src AS id FROM e),
    reach(id, r) AS (
      SELECT id, id FROM v
      UNION
      SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src
    )
    SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
    """


@query(
    "emb_near_dup_clusters",
    oracle=_emb_near_dup_clusters_oracle(
        threshold_ppm=350_000, num_planes=8
    ),
)
def emb_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → transitive CLUSTERS over the exact-integer near-dup pair
    list — the first driver-oracled connected-components entry (the
    MinHash clusters twin is rows-only because its pairs are
    hash-dependent; these pairs are bit-exact cross-engine, so the
    cluster labels are too).  Spark side: operators/dedup.py
    duplicate_clusters (driver union-find at this size; two-phase
    large-star/small-star above the 1M-edge limit — both pinned to
    identical labels).  Oracle: recursive transitive-closure CTE over
    the same integer pair list, MIN(reachable) per vertex."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = S.embedding_near_dup_pairs_exactint(
        emb,
        dim=64,
        threshold_ppm=350_000,
        num_planes=8,
        max_bucket_size=None,
    )
    clusters = D.duplicate_clusters(pairs)
    return D.materialize_release(
        clusters.select("id", "cluster_id"), pairs
    )


@query(
    "emb_near_dup_pairs",
    oracle=_emb_near_dup_oracle(threshold_ppm=350_000, num_planes=8),
)
def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with an EXACT-INTEGER
    contract (operators/similarity.py: embedding_near_dup_pairs_exactint
    — VERDICT r6 item 1): components quantized to 1e-5 units, LSH
    buckets from int64 sign patterns, and the cosine-threshold verdict
    decided sqrt-free as dot²·10¹² >= t_ppm²·|a|²·|b|² in DECIMAL(38,0)
    — every step integer arithmetic, so the DuckDB oracle (generated
    from the same quantized hyperplanes) reproduces rows bit-exactly
    with no FMA/reassociation hazard.  Same scale shape as the float
    kernel path: one projection + one bucket-key shuffle, per-bucket
    self-join.  The bucket cap is disabled HERE because the cap's
    leader-edge fallback is deliberately not SQL-expressible; the
    capped twin is pytest-pinned equal on this corpus
    (tests/test_similarity_multimodal.py).  Threshold 0.35 / 8 planes
    are calibrated to the synthetic corpus (its MAX pairwise cosine is
    ~0.51, so the production 0.95 would gate zero rows and prove
    nothing); production callers pass their own threshold_ppm."""
    emb = _t(spark, sf_dir, "embeddings")
    return D.materialize_release(
        S.embedding_near_dup_pairs_exactint(
            emb,
            dim=64,
            threshold_ppm=350_000,
            num_planes=8,
            max_bucket_size=None,
        )
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id, unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''
             )) AS term
      FROM documents
    ),
    tf AS (
      SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY id, term
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.id, tf.term, tf.tf, dfreq.df,
             ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 4) AS score
      FROM tf JOIN dfreq USING (term), n
    )
    SELECT id, term, tf, df, score, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY id ORDER BY score DESC, term ASC
      ) AS rank FROM scored
    ) WHERE rank <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords over the corpus; tail entry, the
    local mirror verifies the row-exact oracle."""
    docs = _t(spark, sf_dir, "documents")
    return T.tfidf_top_terms(docs, k=3)


@query(
    "sample_stratified_orders",
    oracle="""
    SELECT o_orderpriority, o_orderkey
    FROM (
      SELECT o_orderpriority, o_orderkey,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY md5(CAST(o_orderkey AS VARCHAR)) ASC, o_orderkey ASC
             ) AS rn
      FROM orders
    ) WHERE rn <= 20
    """,
)
def sample_stratified_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly 20 orders per priority,
    selected by md5-of-key pseudo-random order — engine-portable, so the
    EXACT row selection (not just counts) hash-matches the SQL oracle."""
    o = _t(spark, sf_dir, "orders")
    from big_data_validator_spark.operators.sampling import (
        stratified_exact_sample,
    )

    out = stratified_exact_sample(
        o, ["o_orderpriority"], k=20, key_col="o_orderkey"
    )
    return out.select("o_orderpriority", "o_orderkey")


@query(
    "pack_sequences_docs",
    oracle="""
    WITH offs AS (
      SELECT doc_id, n_chars,
             CAST(COALESCE(SUM(n_chars) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS "offset"
      FROM documents
    )
    SELECT doc_id, "offset",
           CAST("offset" // 2048 AS BIGINT) AS seq_id,
           CAST("offset" % 2048 AS BIGINT) AS seq_pos,
           CAST(CASE WHEN n_chars <= 0 THEN 0
                     ELSE ("offset" + n_chars - 1) // 2048
                          - "offset" // 2048 + 1 END AS BIGINT) AS n_seqs
    FROM offs
    """,
)
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-cut sequence packing at 2048 units: every document's
    global stream offset, owning sequence, in-sequence position, and span
    count.  The global running sum is ``operators.block_scan`` (through
    ``packing.running_offset``), so no row-bearing window ever
    funnels the corpus through one task (the oracle's single ORDER BY
    window is exactly the plan shape this operator exists to avoid)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    packed = P.pack_sequences(
        docs, "n_chars", "doc_id", seq_len=2048, block_rows=128
    )
    return packed.select("doc_id", "offset", "seq_id", "seq_pos", "n_seqs")


@query(
    "corpus_mixture_plan",
    oracle="""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS available
      FROM documents GROUP BY lang
    ), weighted AS (
      SELECT lang, available,
             CAST(COALESCE(CASE lang WHEN 'en' THEN 0.4 WHEN 'zh' THEN 0.2
                                     WHEN 'es' THEN 0.2 WHEN 'de' THEN 0.2
                           END, 0.0) AS DOUBLE) AS weight
      FROM counts
    ), tot AS (
      SELECT CAST(FLOOR(MIN(available / weight)) AS BIGINT) AS total
      FROM weighted WHERE weight > 0
    )
    SELECT w.lang, w.available, ROUND(w.weight, 6) AS weight,
           CAST(FLOOR(w.weight * t.total) AS BIGINT) AS planned_rows,
           ROUND(CAST(FLOOR(w.weight * t.total) AS BIGINT)
                 / CAST(w.available AS DOUBLE), 6) AS keep_rate
    FROM weighted w CROSS JOIN tot t
    """,
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture plan: largest total corpus honouring target domain
    proportions with no up-sampling, plus per-domain keep rates.  One
    aggregate over the corpus; the min/total window runs over the
    handful of domain rows only.  ``fr`` is deliberately absent from the
    plan to pin the weight-0 path."""
    docs = _t(spark, sf_dir, "documents")
    return P.mixture_sampling_plan(
        docs, "lang", {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.2}
    )


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
           END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
           CAST(16 AS INT) AS feature_dim
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow ``mapInPandas`` feature-extraction plumbing, now
    HASH-CHECKED (was rows-only through r5): the deterministic stub
    kernel makes byte counts and feature dimensionality pure functions
    of the source text, so DuckDB recomputes what the Python worker
    must produce — a schema/batch-shape regression in the Arrow path
    flips the hash even though the "features" themselves are fakes."""
    docs = _t(spark, sf_dir, "documents")
    assets = M.assets_from_documents(docs)
    feats = M.extract_features(assets, dim=16)
    return feats.select(
        "asset_id", "media_type", "payload_bytes", F.size("feature").alias("feature_dim")
    )


@query(
    "streaming_sessionize_stateful",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered
    ), agg AS (
      SELECT user_id, session_no,
             MIN(ts) AS s_start, MAX(ts) AS s_end,
             COUNT(*) AS event_count,
             SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS violation_count
      FROM sess GROUP BY user_id, session_no
    ), final AS (
      SELECT *, MAX(session_no) OVER (PARTITION BY user_id) AS last_no FROM agg
    )
    SELECT user_id,
           strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(event_count AS BIGINT) AS event_count,
           CAST(violation_count AS BIGINT) AS violation_count
    FROM final WHERE session_no < last_no
    """,
)
def streaming_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming operator, oracle-checked end-to-end:
    ``applyInPandasWithState`` sessionization (per-user gap state machine
    with in-session violation counts) drained through a real
    ``readStream`` → memory sink with the ``availableNow`` trigger.

    The emission contract on bounded input is deterministic: a session
    closed by a later event of the same user is emitted in-batch; each
    user's FINAL session stays in state awaiting an event-time timeout
    that a drained finite stream never fires (the watermark delay here is
    set beyond the data's span to pin that).  The oracle therefore
    reproduces, relationally, exactly the non-final sessions of every
    user.  State timestamps are µs-precise so gap splits agree
    bit-for-bit with the SQL interval comparison.

    At 100 TB/day the identical plan runs unbounded with a real watermark:
    state is bounded per active user and timeouts flush idle sessions —
    the capability the windowed-aggregation queries can't express
    (SURVEY.md §2g streaming)."""
    from big_data_validator_spark.streaming.stateful import (
        sessionize_with_state,
    )

    def writer(d: _Drain):
        sessions = sessionize_with_state(
            _events_stream(spark, sf_dir, d.root),
            gap_seconds=1800,
            watermark="36500 days",
        )
        return _memory_sink(sessions, "append")

    # the session's partition count, not the harness's 2: the
    # applyInPandasWithState Arrow workers parallelize with partitions
    # (sf0.1, local[4], 4 alternating pairs: median 7.5 s with 2 state
    # partitions against 5.5 s with the session's 4)
    return _bounded_drain(
        spark,
        "streaming_sessionize_stateful",
        writer,
        lambda d: spark.table(d.table).select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "event_count",
            "violation_count",
        ),
        state_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )


@query(
    "streaming_dedup_events",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS dedup_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS distinct_types
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    """,
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup end-to-end, oracle-checked: ``readStream`` →
    ``dropDuplicatesWithinWatermark(user_id, event_type)`` → memory sink,
    drained with ``availableNow``.  Which physical row survives per key is
    arrival-order-dependent, so the checked result aggregates over the
    KEYS — one row per distinct key is the deterministic contract.  State
    expires at the watermark horizon instead of accumulating forever —
    the property that makes streaming dedup viable at 100 TB/day
    (``streaming/validate_stream.py:stream_dedup``)."""
    from big_data_validator_spark.streaming.validate_stream import (
        StreamingRuleConfig,
        stream_dedup,
    )

    def writer(d: _Drain):
        deduped = stream_dedup(
            _events_stream(spark, sf_dir, d.root),
            ["user_id", "event_type"],
            StreamingRuleConfig(event_time_col="ts", watermark="1 hour"),
        )
        return _memory_sink(deduped, "append")

    return _bounded_drain(
        spark,
        "streaming_dedup_events",
        writer,
        lambda d: spark.table(d.table).agg(
            F.count(F.lit(1)).alias("dedup_rows"),
            F.count_distinct("user_id").alias("distinct_users"),
            F.count_distinct("event_type").alias("distinct_types"),
        ),
    )


@query(
    "corpus_mixture_apply",
    oracle="""
    WITH counts AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
         wts(lang, w) AS (VALUES ('en', 0.4), ('zh', 0.2), ('es', 0.2), ('de', 0.2)),
         tot AS (SELECT FLOOR(MIN(c / w)) AS t FROM counts JOIN wts USING (lang)),
         plan AS (SELECT lang, CAST(FLOOR(w * t) AS BIGINT) AS planned FROM wts, tot),
         ranked AS (
           SELECT doc_id, lang,
                  ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents
         )
    SELECT r.doc_id, r.lang
    FROM ranked r JOIN plan p ON r.lang = p.lang
    WHERE r.rn <= p.planned
    """,
)
def corpus_mixture_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture plan MATERIALIZED: exactly ``planned_rows`` documents per
    domain, chosen in engine-portable md5(key) order, so the selected
    subset itself — every (doc_id, lang) — hash-matches a relational
    oracle.  One broadcast of the tiny plan + one domain shuffle with
    WindowGroupLimit (operators/packing.py: apply_mixture_plan)."""
    docs = _t(spark, sf_dir, "documents")
    return P.apply_mixture_plan(
        docs, "lang", {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.2},
        key_col="doc_id",
    ).select("doc_id", "lang")


@query(
    "pipeline_curate_pack",
    oracle="""
    WITH f AS (
      SELECT doc_id, text, n_chars,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
             len(regexp_extract_all(lower(text), '\\b(the|and|of|with|for)\\b')) AS s_en,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS punct_hits,
             len(regexp_extract_all(lower(text), '\\b(le|la|les|des|est)\\b')) AS s_fr,
             len(regexp_extract_all(lower(text), '\\b(el|los|las|por|una)\\b')) AS s_es,
             len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b')) AS s_de,
             len(regexp_extract_all(lower(text), '\\b(de5|shi4|le5|zai4|you3)\\b')) AS s_zh
      FROM documents
    ),
    scored AS (
      SELECT doc_id, text, n_chars,
             CASE WHEN s_en > 0 AND s_en >= s_fr AND s_en >= s_es
                       AND s_en >= s_de AND s_en >= s_zh THEN 'en'
                  ELSE 'other' END AS lang,
             ROUND(0.4 * LEAST(CASE WHEN n_tokens > 0
                                    THEN CAST(s_en AS DOUBLE) / n_tokens
                                    ELSE 0 END * 4, 1.0)
                 + 0.3 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                 + 0.3 * (1.0 - LEAST(CASE WHEN n_chars > 0
                                           THEN CAST(punct_hits AS DOUBLE) / n_chars
                                           ELSE 0 END * 5, 1.0)), 4) AS quality
      FROM f
    ),
    curated AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               ORDER BY doc_id
             ) AS rn
      FROM scored WHERE lang = 'en' AND quality >= 0.5
    ),
    kept AS (SELECT doc_id, n_chars FROM curated WHERE rn = 1),
    offs AS (
      SELECT doc_id, n_chars,
             CAST(COALESCE(SUM(n_chars) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS "offset"
      FROM kept
    )
    SELECT doc_id, "offset",
           CAST("offset" // 2048 AS BIGINT) AS seq_id,
           CAST("offset" % 2048 AS BIGINT) AS seq_pos,
           CAST(CASE WHEN n_chars <= 0 THEN 0
                     ELSE ("offset" + n_chars - 1) // 2048
                          - "offset" // 2048 + 1 END AS BIGINT) AS n_seqs
    FROM offs
    """,
)
def pipeline_curate_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data pipeline as one declarative plan:
    language-ID → quality threshold → exact fingerprint dedup → sequence
    packing coordinates of the surviving stream.  Every stage is the
    independently-oracled operator (text.py curation, packing.py on
    ``operators.block_scan``); this query pins that the COMPOSITION
    stays correct — the packed offsets hash-match SQL that recomputes
    the whole chain relationally.  Plan shape at scale: one codegen'd scan for
    langid+quality+fingerprint, one fingerprint-window shuffle
    (WindowGroupLimit), then ``block_scan``'s block-local windows +
    broadcast prefix — the corpus never funnels through one task."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    text = F.col("text")
    lang = T.lang_guess(text)
    scored = docs.select(
        "doc_id",
        "n_chars",
        F.when(lang == "en", "en").otherwise("other").alias("lang"),
        T.quality_score(text).alias("quality"),
        T.fingerprint(text).alias("fp"),
    ).filter((F.col("lang") == "en") & (F.col("quality") >= 0.5))
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_chars")
    )
    packed = P.pack_sequences(
        kept, "n_chars", "doc_id", seq_len=2048, block_rows=128
    )
    return packed.select("doc_id", "offset", "seq_id", "seq_pos", "n_seqs")


@query(
    "join_range_binned",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS pairs,
           CAST(COUNT(DISTINCT p_partkey) AS BIGINT) AS parts_hit,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS orders_hit
    FROM lineitem l JOIN part p
      ON l.l_extendedprice >= p.p_partkey * 5.0
     AND l.l_extendedprice < p.p_partkey * 5.0 + 10.0
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact RANGE join at scale: both sides bin to a common grid so
    the non-equi predicate becomes a hash EQUI-join on the bin id plus an
    exact residual filter — shuffle O(rows), never a nested loop
    (operators/relational.py: binned_range_join; the broadcast-BNL twin
    `join_range_value_buckets` stays the right shape for tiny dims).
    Interval windows are keyed off p_partkey so they SPREAD across the
    price domain (~2 matches per point) — the earlier p_retailprice*10
    construction bunched all 20k windows into one narrow band, which made
    the benchmark enumerate 2.3e8 legitimately-matching pairs at sf0.1
    (any exact algorithm pays that); selectivity, not the plan, was the
    cost.  Count-based result so the float join bounds stay hash-exact
    (partkey*5.0 and +10.0 are exact in double)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_partkey") * 5.0).alias("lo"),
        (F.col("p_partkey") * 5.0 + 10.0).alias("hi"),
    )
    joined = R.binned_range_join(li, part, "l_extendedprice", bin_width=10.0)
    return joined.agg(
        F.count(F.lit(1)).alias("pairs"),
        F.count_distinct("p_partkey").alias("parts_hit"),
        F.count_distinct("l_orderkey").alias("orders_hit"),
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH l AS (SELECT p_partkey AS lid, p_retailprice AS l_lo,
                      p_retailprice + 50 AS l_hi FROM part),
         r AS (SELECT s_suppkey AS rid, s_acctbal * 0.5 AS r_lo,
                      s_acctbal * 0.5 + 80 AS r_hi FROM supplier)
    SELECT CAST(COUNT(*) AS BIGINT) AS pairs,
           CAST(COUNT(DISTINCT lid) AS BIGINT) AS parts_hit,
           CAST(COUNT(DISTINCT rid) AS BIGINT) AS supps_hit
    FROM l JOIN r ON l_lo < r_hi AND r_lo < l_hi
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join as a binned equi-join with
    canonical-bin dedup (operators/relational.py:
    binned_interval_overlap_join) — supplier balance ranges include
    negative coordinates, exercising floor-division binning below zero.
    Count-based result so float bounds stay hash-exact."""
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("lid"),
        F.col("p_retailprice").alias("l_lo"),
        (F.col("p_retailprice") + 50).alias("l_hi"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("rid"),
        (F.col("s_acctbal") * 0.5).alias("r_lo"),
        (F.col("s_acctbal") * 0.5 + 80).alias("r_hi"),
    )
    joined = R.binned_interval_overlap_join(
        part, supp, "l_lo", "l_hi", "r_lo", "r_hi", bin_width=100.0
    )
    return joined.agg(
        F.count(F.lit(1)).alias("pairs"),
        F.count_distinct("lid").alias("parts_hit"),
        F.count_distinct("rid").alias("supps_hit"),
    )


@query(
    "agg_trimmed_mean_udaf",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT o_orderpriority,
           ROUND(AVG(o_totalprice), 4) AS trimmed_avg_price,
           CAST(COUNT(*) AS BIGINT) AS kept_rows
    FROM ranked
    WHERE rn > CAST(FLOOR(n * 0.1) AS BIGINT)
      AND rn <= n - CAST(FLOOR(n * 0.1) AS BIGINT)
    GROUP BY o_orderpriority
    """,
)
def agg_trimmed_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A true vectorized Python UDAF (GROUPED_AGG pandas_udf): positional
    10%-trimmed mean of order value per priority — positional trimming
    is not expressible with built-in aggregates (value-based percentile
    filters double-drop ties).  The oracle recomputes the positional
    semantics with a rank window.  Spark refuses to mix GROUPED_AGG with
    JVM aggregates in one agg (INVALID_PANDAS_UDF_PLACEMENT), so
    kept_rows comes from a second aggregate joined on the 5-row key —
    both aggs reuse the same shuffle partitioning (functions/udafs.py:
    trimmed_mean — note its no-partial-agg shuffle contract in the
    module docstring)."""
    from big_data_validator_spark.functions.udafs import trimmed_mean

    orders = _t(spark, sf_dir, "orders")
    trimmed = orders.groupBy("o_orderpriority").agg(
        F.round(trimmed_mean("o_totalprice", 0.1), 4).alias(
            "trimmed_avg_price"
        )
    )
    n = F.count(F.lit(1))
    kept = (n - 2 * F.floor(n * 0.1)).cast("long").alias("kept_rows")
    counts = orders.groupBy("o_orderpriority").agg(kept)
    return trimmed.join(counts, "o_orderpriority")


@query(
    "agg_heavy_hitters",
    oracle="""
    WITH t AS (SELECT COUNT(*) AS total FROM lineitem)
    SELECT l_quantity AS value,
           CAST(COUNT(*) AS BIGINT) AS exact_count,
           ROUND(COUNT(*) / CAST(t.total AS DOUBLE), 6) AS share
    FROM lineitem, t
    GROUP BY l_quantity, t.total
    HAVING COUNT(*) > 0.019 * t.total
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase heavy hitters: a Misra-Gries-family sketch pass
    (``stat.freqItems``, O(1/support) memory, guaranteed superset of the
    true frequent values) generates candidates, one exact aggregation
    over only candidate rows removes the sketch's false positives — so
    the result is EXACT and hash-checkable despite the approximate
    first pass (operators/relational.py: heavy_hitters)."""
    li = _t(spark, sf_dir, "lineitem")
    return R.heavy_hitters(li, "l_quantity", support=0.019)


@query(
    "profile_orders_columns",
    oracle="""
    WITH m AS (
      SELECT 'o_orderkey' AS "column", 'row_count' AS metric,
             CAST(COUNT(*) AS DOUBLE) AS value FROM orders
      UNION ALL SELECT 'o_orderkey', 'null_count',
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderkey', 'distinct_count',
             CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderkey', 'min', CAST(MIN(o_orderkey) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderkey', 'max', CAST(MAX(o_orderkey) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderkey', 'mean', AVG(CAST(o_orderkey AS DOUBLE)) FROM orders
      UNION ALL SELECT 'o_orderkey', 'stddev', STDDEV_SAMP(CAST(o_orderkey AS DOUBLE)) FROM orders
      UNION ALL SELECT 'o_totalprice', 'row_count', CAST(COUNT(*) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_totalprice', 'null_count',
             CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_totalprice', 'distinct_count',
             CAST(COUNT(DISTINCT o_totalprice) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_totalprice', 'min', MIN(o_totalprice) FROM orders
      UNION ALL SELECT 'o_totalprice', 'max', MAX(o_totalprice) FROM orders
      UNION ALL SELECT 'o_totalprice', 'mean', AVG(o_totalprice) FROM orders
      UNION ALL SELECT 'o_totalprice', 'stddev', STDDEV_SAMP(o_totalprice) FROM orders
      UNION ALL SELECT 'o_orderpriority', 'row_count', CAST(COUNT(*) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderpriority', 'null_count',
             CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderpriority', 'distinct_count',
             CAST(COUNT(DISTINCT o_orderpriority) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderpriority', 'min_length',
             CAST(MIN(LEN(o_orderpriority)) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderpriority', 'max_length',
             CAST(MAX(LEN(o_orderpriority)) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderpriority', 'avg_length',
             AVG(CAST(LEN(o_orderpriority) AS DOUBLE)) FROM orders
      UNION ALL SELECT 'o_orderdate', 'row_count', CAST(COUNT(*) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderdate', 'null_count',
             CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderdate', 'distinct_count',
             CAST(COUNT(DISTINCT o_orderdate) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderdate', 'min_epoch_s',
             CAST(epoch(MIN(o_orderdate)) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderdate', 'max_epoch_s',
             CAST(epoch(MAX(o_orderdate)) AS DOUBLE) FROM orders
    )
    SELECT "column", metric, ROUND(value, 3) AS value FROM m
    """,
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style one-pass column profiler: null/distinct counts,
    numeric moments, string length stats, and temporal epoch bounds for
    four orders columns (bigint, double, string, timestamp) as
    expression columns of ONE aggregation — the table is scanned once no
    matter how many columns are profiled; the wide→long pivot explodes
    the single aggregate row (operators/profile.py: profile_table).
    Values re-rounded to 3 so cross-engine float-reduction noise cannot
    flip the hash."""
    from big_data_validator_spark.operators.profile import profile_table

    orders = _t(spark, sf_dir, "orders")
    prof = profile_table(
        orders,
        ["o_orderkey", "o_totalprice", "o_orderpriority", "o_orderdate"],
    )
    return prof.select("column", "metric", F.round("value", 3).alias("value"))




@query(
    "events_funnel_conversion",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
          JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
          JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
    SELECT v.user_id,
           strftime(t1, '%Y-%m-%d %H:%M:%S') AS t_view,
           strftime(t2, '%Y-%m-%d %H:%M:%S') AS t_click,
           strftime(t3, '%Y-%m-%d %H:%M:%S') AS t_purchase,
           CAST(1 + (CASE WHEN t2 IS NULL THEN 0 ELSE 1 END)
                  + (CASE WHEN t3 IS NULL THEN 0 ELSE 1 END) AS INT)
             AS stages_completed
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view→click→purchase funnel per user: each stage's
    earliest completion given the previous stage happened strictly
    before it (operators/events_analytics.py: funnel_conversion).  Every
    stage joins and aggregates on the SAME user key, so the plan re-uses
    one hash partitioning end-to-end and later stages shrink to funnel
    survivors only."""
    from big_data_validator_spark.operators.events_analytics import (
        funnel_conversion,
    )

    ev = _t(spark, sf_dir, "events")
    out = funnel_conversion(ev, ["view", "click", "purchase"])
    return out.select(
        "user_id",
        F.date_format("t_view", "yyyy-MM-dd HH:mm:ss").alias("t_view"),
        F.date_format("t_click", "yyyy-MM-dd HH:mm:ss").alias("t_click"),
        F.date_format("t_purchase", "yyyy-MM-dd HH:mm:ss").alias("t_purchase"),
        "stages_completed",
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH cohort AS (SELECT user_id,
                           CAST(date_trunc('week', MIN(ts)) AS DATE) AS cw
                    FROM events GROUP BY 1),
    act AS (SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS aw FROM events),
    sizes AS (SELECT cw, COUNT(*) AS cs FROM cohort GROUP BY 1)
    SELECT strftime(cw, '%Y-%m-%d') AS cohort_period,
           CAST(date_diff('day', cw, aw) // 7 AS INT) AS period_offset,
           CAST(COUNT(*) AS BIGINT) AS active_users,
           CAST(ANY_VALUE(cs) AS BIGINT) AS cohort_size,
           ROUND(COUNT(*) / ANY_VALUE(cs), 6) AS retention_rate
    FROM act JOIN cohort USING (user_id) JOIN sizes USING (cw)
    GROUP BY cw, period_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-event week;
    per (cohort, week-offset) cell the distinct active users and the
    retention rate (operators/events_analytics.py: cohort_retention).
    Shuffles (user, week) pairs once, then joins the one-row-per-user
    cohort assignment back — broadcastable at most scales."""
    from big_data_validator_spark.operators.events_analytics import (
        cohort_retention,
    )

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev)


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
                   FROM events GROUP BY 1),
    win AS (SELECT d, CAST(n AS BIGINT) AS n, AVG(n) OVER w AS m,
                   STDDEV_SAMP(n) OVER w AS s
            FROM daily WINDOW w AS
              (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
    SELECT strftime(d, '%Y-%m-%d') AS "day", n,
           ROUND(m, 6) AS trailing_mean,
           ROUND(s, 6) AS trailing_std,
           ROUND(CASE WHEN s IS NOT NULL AND s > 0
                      THEN (n - m) / s END, 6) AS z_score,
           COALESCE(ABS(CASE WHEN s IS NOT NULL AND s > 0
                             THEN (n - m) / s END) > 2.0, FALSE)
             AS is_anomaly
    FROM win
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly monitor: each day's event count flagged
    against a trailing-7-day z-score, current day excluded from its own
    baseline (operators/events_analytics.py: rolling_zscore_anomalies).
    The ordered window runs over the per-day AGGREGATE — one row per
    day, a bounded single-partition frame, never over raw events."""
    from big_data_validator_spark.operators.events_analytics import (
        rolling_zscore_anomalies,
    )

    ev = _t(spark, sf_dir, "events")
    return rolling_zscore_anomalies(ev, trailing=7, z_threshold=2.0)


@query(
    "dedup_fuzzy_levenshtein",
    oracle="""
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM (SELECT DISTINCT p_name FROM part) a,
         (SELECT DISTINCT p_name FROM part) b
    WHERE a.p_name < b.p_name
      AND ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2
      AND levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy catalog dedup: all distinct part-name pairs within edit
    distance 2, via LOSSLESS length-band blocking + a hash equi-join on
    the band key (operators/dedup.py: levenshtein_pairs_banded) — never
    an all-pairs cross join.  ``levenshtein`` is a JVM built-in with
    identical semantics in DuckDB, so the pair set is oracle-exact."""
    part = _t(spark, sf_dir, "part")
    return D.levenshtein_pairs_banded(part, "p_name", max_dist=2)


@query(
    "sample_weighted_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders WHERE o_totalprice > 0
    ORDER BY POW(
        (CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
              AS UBIGINT) + 0.5) / 4294967296.0,
        1.0 / o_totalprice) DESC,
      o_orderkey ASC
    LIMIT 100
    """,
)
def sample_weighted_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, EXACT row selection:
    Efraimidis–Spirakis A-Res keyed on an md5-derived deterministic
    uniform, 100 orders sampled ∝ o_totalprice
    (operators/sampling.py: weighted_sample_exact).  Plans as
    TakeOrderedAndProject — per-partition top-k, no global sort — the
    quality-weighted corpus-selection shape at 100 TB."""
    from big_data_validator_spark.operators.sampling import (
        weighted_sample_exact,
    )

    o = _t(spark, sf_dir, "orders")
    out = weighted_sample_exact(o, "o_totalprice", k=100, key_col="o_orderkey")
    return out.select("o_orderkey", "o_totalprice")


@query(
    "rule_functional_dependency",
    oracle="""
    WITH pairs AS (SELECT source AS lhs_value, lang AS _rhs,
                          COUNT(*) AS _n
                   FROM documents
                   WHERE source IS NOT NULL AND lang IS NOT NULL
                   GROUP BY 1, 2),
    ranked AS (SELECT *, ROW_NUMBER() OVER
                 (PARTITION BY lhs_value ORDER BY _n DESC, _rhs ASC) AS rk
               FROM pairs)
    SELECT lhs_value,
           CAST(SUM(_n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_rhs,
           MAX(CASE WHEN rk = 1 THEN _rhs END) AS top_rhs,
           CAST(MAX(CASE WHEN rk = 1 THEN _n END) AS BIGINT)
             AS top_rhs_rows,
           CAST(SUM(_n) - MAX(CASE WHEN rk = 1 THEN _n END) AS BIGINT)
             AS violation_rows,
           (COUNT(*) = 1) AS fd_holds
    FROM ranked GROUP BY lhs_value
    """,
)
def rule_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency validation source → lang over documents:
    per source the distinct-language count, the modal language
    (deterministic tie-break), and how many rows violate the FD
    (operators/profile.py: functional_dependency_profile).  Two map-side
    combined aggregations, the mode via a min-struct — no row-level
    window, no collect."""
    from big_data_validator_spark.operators.profile import (
        functional_dependency_profile,
    )

    docs = _t(spark, sf_dir, "documents")
    return functional_dependency_profile(docs, "source", "lang")


@query(
    "rule_benford_totalprice",
    oracle="""
    WITH obs AS (SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100, 0)
                                    AS BIGINT) AS VARCHAR), 1, 1) AS INT)
                          AS digit,
                        COUNT(*) AS n
                 FROM orders WHERE o_totalprice > 0 GROUP BY 1),
    tot AS (SELECT SUM(n) AS t FROM obs),
    digits(digit) AS (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9))
    SELECT d.digit,
           CAST(COALESCE(o.n, 0) AS BIGINT) AS n,
           ROUND(COALESCE(o.n, 0) / t.t, 6) AS share,
           ROUND(LOG10(1.0 + 1.0 / d.digit), 6) AS expected_share,
           ROUND(ABS(COALESCE(o.n, 0) / t.t
                     - ROUND(LOG10(1.0 + 1.0 / d.digit), 6)), 6)
             AS abs_dev
    FROM digits d LEFT JOIN obs o ON d.digit = o.digit, tot t
    """,
)
def rule_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen on order amounts: observed vs expected
    first-significant-digit shares (operators/profile.py:
    benford_first_digit).  The digit is extracted in integer space
    (scaled, rounded, string head) — engine-stable where float
    log10/pow extraction is not; all 9 digits always present."""
    from big_data_validator_spark.operators.profile import (
        benford_first_digit,
    )

    o = _t(spark, sf_dir, "orders")
    return benford_first_digit(o, "o_totalprice", decimals=2)


@query(
    "streaming_static_enrich",
    oracle="""
    SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(e.value), 4) AS avg_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
    GROUP BY 1, 2
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment end-to-end, oracle-checked: a
    real ``readStream`` over events joined per-micro-batch against the
    broadcast customer dim (synthetic registry mapping user_id+1 =
    c_custkey), aggregated into daily event-time windows and drained
    through ``availableNow`` to a memory sink
    (streaming/validate_stream.py: stream_static_enrich).  The join is
    STATELESS — only the windowed agg keeps state — which is what makes
    dim enrichment safe at any stream volume."""
    from big_data_validator_spark.streaming.validate_stream import (
        StreamingRuleConfig,
        stream_static_enrich,
    )

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )

    def writer(d: _Drain):
        enriched = stream_static_enrich(
            _events_stream(spark, sf_dir, d.root),
            cust,
            F.col("c_custkey") == F.col("user_id") + F.lit(1),
            StreamingRuleConfig(
                event_time_col="ts", watermark="1 hour", window="1 day"
            ),
            group_col="segment",
            value_col="value",
        )
        # complete mode: the memory sink re-materializes every window
        # each trigger, so the final (not-yet-watermark-finalized) day is
        # included — the same drain contract streaming_windowed_violations
        # pins.
        return _memory_sink(enriched, "complete")

    return _bounded_drain(
        spark,
        "streaming_static_enrich",
        writer,
        lambda d: spark.table(d.table).select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "segment",
            "n",
            "avg_value",
        ),
    )




@query(
    "drift_ks_totalprice",
    oracle="""
    WITH pooled AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS ca,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 0 ELSE 1 END AS cb
      FROM orders WHERE o_totalprice IS NOT NULL),
    cnts AS (SELECT v, SUM(ca) AS na, SUM(cb) AS nb
             FROM pooled GROUP BY v),
    cum AS (SELECT SUM(na) OVER (ORDER BY v) AS cuma,
                   SUM(nb) OVER (ORDER BY v) AS cumb FROM cnts),
    tot AS (SELECT SUM(na) AS n_a, SUM(nb) AS n_b FROM cnts)
    SELECT ROUND(MAX(ABS(cuma / CAST(n_a AS DOUBLE)
                         - cumb / CAST(n_b AS DOUBLE))), 6) AS ks_stat,
           CAST(ANY_VALUE(n_a) AS BIGINT) AS n_a,
           CAST(ANY_VALUE(n_b) AS BIGINT) AS n_b
    FROM cum, tot
    """,
)
def drift_ks_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov drift statistic between
    urgent-priority and normal-priority order amounts
    (operators/relational.py: ks_two_sample).  The pooled-CDF prefix sum
    is ``operators.block_scan`` over per-distinct-value counts — NEVER
    the textbook single-task global window; the block width only sets
    granularity, the statistic is exact for any choice
    (pytest-pinned)."""
    o = _t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return D.materialize_release(
        R.ks_two_sample(
            o.filter(urgent),
            o.filter(~urgent),
            "o_totalprice",
            bin_width=10000.0,
        )
    )


@query(
    "streaming_attribution_join",
    oracle="""
    SELECT c.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT p.ts) AS BIGINT) AS n_attributed_purchases,
           strftime(MIN(c.ts), '%Y-%m-%d %H:%M:%S') AS first_click
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY 1
    """,
)
def streaming_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join end-to-end, oracle-checked: clicks and
    purchases read as TWO independent ``readStream`` sources, joined on
    user with a 30-minute event-time attribution window
    (streaming/validate_stream.py: stream_stream_attribution), drained
    via ``availableNow`` to a memory sink, then rolled up per user.
    Inner matches emit on arrival, so the bounded drain equals the
    batch interval join exactly.  The watermark here exceeds the data
    span (drain determinism under any batching); production uses a real
    lateness horizon and Spark evicts per-side state beyond watermark +
    attribution window — the property that bounds stream-stream state."""
    from big_data_validator_spark.streaming.validate_stream import (
        stream_stream_attribution,
    )

    def writer(d: _Drain):
        def side(etype: str) -> DataFrame:
            return _events_stream(spark, sf_dir, d.root).filter(
                F.col("event_type") == etype
            )

        pairs = stream_stream_attribution(
            side("click"), side("purchase"), "user_id", "ts", 1800,
            watermark="36500 days",
        )
        return _memory_sink(pairs, "append")

    return _bounded_drain(
        spark,
        "streaming_attribution_join",
        writer,
        lambda d: spark.table(d.table)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct("purchase_ts").alias("n_attributed_purchases"),
            F.date_format(F.min("click_ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_click"
            ),
        ),
    )


@query(
    "cdc_changeset_orders",
    oracle="""
    WITH incoming AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice,
             o_orderpriority
      FROM orders WHERE o_orderkey % 10 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice,
             o_orderpriority
      FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT o_orderkey, change_type FROM (
      SELECT COALESCE(c.o_orderkey, i.o_orderkey) AS o_orderkey,
             CASE WHEN i.o_orderkey IS NULL THEN 'delete'
                  WHEN c.o_orderkey IS NULL THEN 'insert'
                  WHEN c.o_orderstatus IS DISTINCT FROM i.o_orderstatus
                    OR c.o_totalprice IS DISTINCT FROM i.o_totalprice
                    OR c.o_orderpriority IS DISTINCT FROM i.o_orderpriority
                  THEN 'update' ELSE 'unchanged' END AS change_type
      FROM orders c FULL OUTER JOIN incoming i
        ON c.o_orderkey = i.o_orderkey
    ) WHERE change_type <> 'unchanged'
    """,
)
def cdc_changeset_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff / CDC changeset (operators/cdc.py:
    snapshot_changeset): yesterday's orders vs a simulated incoming
    snapshot (10%% of keys deleted, every 7th price bumped, every 13th
    key re-inserted under a new id); every key classified
    insert / update / delete.  Both sides reduce to (key, md5
    fingerprint) BEFORE the full-outer join, so the shuffle carries
    ~50 B/row however wide the fact table is; bucketed snapshots make
    the join zero-Exchange.  The incremental-revalidation primitive the
    reference lacks (reference/big_data_validator.py re-reads whole
    files every run)."""
    from big_data_validator_spark.operators.cdc import snapshot_changeset

    o = _t(spark, sf_dir, "orders")
    current = o.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    base = current.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 1.1
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderpriority",
    )
    inserts = current.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    )
    incoming = base.unionAll(inserts)
    return snapshot_changeset(
        current,
        incoming,
        key_cols=["o_orderkey"],
        compare_cols=["o_orderstatus", "o_totalprice", "o_orderpriority"],
    )


@query(
    "train_shuffle_shards",
    oracle="""
    WITH h AS (
      SELECT doc_id, n_chars,
             md5(CAST(doc_id AS VARCHAR) || ':42') AS rk
      FROM documents
    )
    SELECT CAST(CAST('0x' || substr(rk, 1, 8) AS UBIGINT) % 16 AS INT)
             AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS sum_size,
           arg_min(doc_id, rk) AS first_key,
           arg_max(doc_id, rk) AS last_key
    FROM h GROUP BY 1
    """,
)
def train_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle into 16 shards
    (operators/sampling.py: shuffle_shards): every document gets an
    engine-portable md5 rank and a shard id from the rank's top 32
    bits; the per-shard manifest (count, bytes, first/last doc in
    shuffle order) is the audit view.  Writing the shards costs one
    hash-partition shuffle + sortWithinPartitions — never a global
    orderBy over the corpus — which is what an epoch shuffle over
    100 TB has to look like."""
    from big_data_validator_spark.operators.sampling import (
        shuffle_shard_stats,
        shuffle_shards,
    )

    d = _t(spark, sf_dir, "documents")
    sharded = shuffle_shards(d, "doc_id", n_shards=16, seed=42)
    return shuffle_shard_stats(sharded, key_col="doc_id", size_col="n_chars")


@query(
    "rule_key_gaps",
    oracle="""
    WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders
               WHERE o_orderkey % 101 >= 3),
         g AS (SELECT k, lag(k) OVER (ORDER BY k) AS pk FROM k)
    SELECT CAST(pk + 1 AS BIGINT) AS gap_start,
           CAST(k - 1 AS BIGINT) AS gap_end,
           CAST(k - pk - 1 AS BIGINT) AS gap_len
    FROM g WHERE pk IS NOT NULL AND k - pk > 1
    """,
)
def rule_key_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-completeness rule: report every missing-key RANGE in an
    integer id domain (operators/relational.py: key_gaps).  The oracle
    is the textbook single-sort lag query; the Spark plan is the
    block-decomposed scan (lag windows partitioned by ``k div 2^20``
    + a tiny per-block summary pass), so no stage ever sorts the full
    key domain in one task.  Gaps are synthesized by dropping
    ``o_orderkey % 101 in (0,1,2)`` — the keys in the test tables are
    otherwise dense."""
    from big_data_validator_spark.operators.relational import key_gaps

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 101 >= 3)
    return key_gaps(o, "o_orderkey")


@query(
    "quality_gopher_flags",
    oracle="""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '')
                        AS words
               FROM documents),
    p AS (SELECT doc_id, words,
                 CAST(GREATEST(len(words), 1) AS BIGINT) AS den
          FROM w),
    m AS (SELECT doc_id,
            CAST(len(words) AS BIGINT) AS n_words,
            ((2000000 * CAST(COALESCE(list_sum(
                 list_transform(words, x -> len(x))), 0) AS BIGINT)
              + den) // (2 * den)) / 1000000.0 AS mean_word_len,
            ((2000000 * (CAST(len(words) AS BIGINT)
                         - len(list_distinct(words)))
              + den) // (2 * den)) / 1000000.0 AS dup_word_frac,
            ((2000000 * CAST(COALESCE(list_max(list_transform(
                 list_distinct(words),
                 w2 -> len(list_filter(words, x -> x = w2)))), 0)
                 AS BIGINT)
              + den) // (2 * den)) / 1000000.0 AS top_word_frac
          FROM p)
    SELECT doc_id, n_words, mean_word_len, dup_word_frac, top_word_frac,
           n_words >= 20 AND n_words <= 100000 AS pass_n_words,
           mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AS pass_word_len,
           dup_word_frac <= 0.55 AS pass_dup_words,
           top_word_frac <= 0.20 AS pass_top_word,
           (n_words >= 20 AND n_words <= 100000)
             AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
             AND dup_word_frac <= 0.55 AND top_word_frac <= 0.20
             AS quality_pass
    FROM m
    """,
)
def quality_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/length quality gates per document
    (operators/curation.py: word_quality_metrics +
    gopher_quality_flags): word count, mean word length, duplicate-word
    fraction, top-word fraction, each gated, plus the conjunctive
    ``quality_pass``.  Everything is array higher-order functions in
    one codegen projection — zero shuffle, no Python — so the 100 TB
    cost is exactly one text-column scan."""
    from big_data_validator_spark.operators.curation import (
        gopher_quality_flags,
        word_quality_metrics,
    )

    d = _t(spark, sf_dir, "documents")
    return gopher_quality_flags(word_quality_metrics(d))


@query(
    "pii_redaction_scan",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 50 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or +1 555-000-1234'
                  ELSE text END AS text
      FROM documents),
    scanned AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
               AS INT) AS n_email,
             CAST(len(regexp_extract_all(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
               '\\+?[0-9][0-9 -]{7,}[0-9]')) AS INT) AS n_phone,
             CAST(len(text) - len(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
               '\\+?[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g'))
               AS BIGINT) AS chars_removed
      FROM aug)
    SELECT * FROM scanned WHERE n_email + n_phone > 0
    """,
)
def pii_redaction_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction (operators/curation.py: pii_scan): per-doc
    email/phone match counts and the redaction character delta,
    reported for affected documents only.  The corpus is synthetic
    word-soup, so deterministic PII is injected into every 50th doc
    in-query (both engines apply the identical augmentation).  Pure
    regexp projections — row-local, one scan at any scale; the regex
    patterns are deliberately lookaround-free so Java regex and RE2
    agree."""
    from big_data_validator_spark.operators.curation import pii_scan

    d = _t(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 50 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1 555-000-1234"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    scanned = pii_scan(aug, "text")
    return scanned.filter(
        F.col("n_email") + F.col("n_phone") > 0
    ).select(
        "doc_id",
        "n_email",
        "n_phone",
        (F.length("text") - F.length("redacted"))
        .cast("long")
        .alias("chars_removed"),
    )


@query(
    "contamination_probes",
    oracle="""
    WITH p AS (SELECT doc_id AS probe_id, substr(text, 1, 16) AS probe
               FROM documents WHERE doc_id % 97 = 0)
    SELECT probe_id,
           CAST(COALESCE(SUM(CASE WHEN d.doc_id <> p.probe_id
                                   AND position(probe IN d.text) > 0
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_contaminated
    FROM p, documents d GROUP BY 1
    """,
)
def contamination_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen (operators/curation.py:
    contamination_probe_counts): every 97th document's 16-char prefix
    plays the role of a benchmark probe; count OTHER documents
    containing it as an exact substring.  The probe side broadcasts and
    the corpus is scanned once with JVM-side ``instr`` — the right plan
    for a benchmark suite (10^2-10^4 probes) against 100 TB; beyond
    that, the documented upgrade is an Aho-Corasick automaton in
    mapInPandas with this plan as the oracle."""
    from big_data_validator_spark.operators.curation import (
        contamination_probe_counts,
    )

    d = _t(spark, sf_dir, "documents")
    probes = d.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("probe_id"),
        F.substring("text", 1, 16).alias("probe"),
    )
    return contamination_probe_counts(
        d, probes, text_col="text", corpus_id_col="doc_id"
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
                ELSE o_orderpriority END AS priority,
           CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
                ELSE o_orderstatus END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube are sugar
    for): per (priority, status), per priority, and the grand total in
    ONE aggregation — Catalyst plans a single Expand + partial agg, not
    three jobs; ``GROUPING()`` labels subtotal rows unambiguously
    (a NULL-coalesce label would collide with genuine NULL keys)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderpriority", "o_orderstatus"], ["o_orderpriority"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.grouping("o_orderpriority").alias("_gp"),
            F.grouping("o_orderstatus").alias("_gs"),
        )
        .select(
            F.when(F.col("_gp") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderpriority"))
            .alias("priority"),
            F.when(F.col("_gs") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
            "n_orders",
            "revenue",
        )
    )


@query(
    "window_lag_delta",
    oracle="""
    WITH m AS (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
                        AS month,
                      ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2)
                        AS revenue
               FROM orders GROUP BY 1)
    SELECT month, revenue,
           ROUND(revenue - LAG(revenue) OVER (ORDER BY month), 2)
             AS delta,
           ROUND((revenue - LAG(revenue) OVER (ORDER BY month))
                 / LAG(revenue) OVER (ORDER BY month) * 100, 4)
             AS pct_change
    FROM m
    """,
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue deltas: aggregate to monthly totals
    (map-side combined — the frame shrinks to #months before any
    window), then lag/lead over the SMALL aggregate.  The global
    window's input cardinality is the number of months, not the number
    of orders — the safe way to use an unpartitioned window at 100 TB.
    Deltas are computed from the ROUNDED monthly totals so the
    cross-engine hash never sees raw float jitter."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month",
        "revenue",
        F.round(F.col("revenue") - prev, 2).alias("delta"),
        F.round((F.col("revenue") - prev) / prev * 100, 4).alias(
            "pct_change"
        ),
    )


def _zorder_oracle() -> str:
    from big_data_validator_spark.operators.layout import morton_sql

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
    from big_data_validator_spark.operators.layout import zorder_file_stats

    o = _t(spark, sf_dir, "orders")
    return zorder_file_stats(
        o, "o_custkey", "o_orderkey", bits=8, n_files=64
    )


@query(
    "agg_hll_mergeable",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
           TRUE AS est_ok
    FROM orders GROUP BY 1
    UNION ALL
    SELECT 'ALL' AS priority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
           TRUE AS est_ok
    FROM orders
    """,
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the architecture that makes
    incremental/rollup distinct counts possible at 100 TB: per-group
    Datasketches HLL sketches (``hll_sketch_agg``), with the global
    count obtained by UNIONING THE SKETCHES (``hll_union_agg``), never
    rescanning the data.  Persist per-day sketch bytes and a rolling
    30-day distinct count becomes a 30-row merge.

    Hash discipline: the sketch estimate itself is
    algorithm-specific, so the hashed output is the EXACT per-group
    distinct count (computed alongside) plus ``est_ok`` = "estimate
    within 5% of exact" — the oracle asserts TRUE, so a sketch
    regression flips the hash.  lgConfigK=14 ⇒ ~0.7% expected error."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.hll_sketch_agg("o_custkey", F.lit(14)).alias("_sk"),
        F.count_distinct("o_custkey").cast("long").alias("n_exact"),
    )
    per_out = per.select(
        "priority",
        "n_exact",
        (
            F.abs(
                F.hll_sketch_estimate("_sk").cast("double")
                - F.col("n_exact").cast("double")
            )
            / F.col("n_exact").cast("double")
            < 0.05
        ).alias("est_ok"),
    )
    merged = (
        per.agg(
            F.hll_union_agg("_sk").alias("_sk"),
        )
        .crossJoin(
            F.broadcast(
                o.agg(
                    F.count_distinct("o_custkey")
                    .cast("long")
                    .alias("n_exact")
                )
            )
        )
        .select(
            F.lit("ALL").alias("priority"),
            "n_exact",
            (
                F.abs(
                    F.hll_sketch_estimate("_sk").cast("double")
                    - F.col("n_exact").cast("double")
                )
                / F.col("n_exact").cast("double")
                < 0.05
            ).alias("est_ok"),
        )
    )
    return per_out.unionAll(merged)


@query(
    "events_top_sequences",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             LEAD(event_type, 1) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
             LEAD(event_type, 2) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS e3
      FROM events)
    SELECT e1 || '>' || e2 || '>' || e3 AS trigram,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq
    WHERE e1 IS NOT NULL AND e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, trigram ASC LIMIT 10
    """,
)
def events_top_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining: the 10 most common 3-event sequences
    across user journeys.  One window pass per user (lead ×2 over the
    same sort — Spark evaluates both leads in a single Window node),
    then a count aggregation whose shuffle carries distinct trigrams
    only; top-10 plans as TakeOrderedAndProject with a deterministic
    tie-break.  Event order is pinned by (ts, event_id) so concurrent
    events hash identically across engines."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # all three legs null-filtered: concat_ws would silently SKIP a null
    # middle element (emitting a 2-gram as a trigram) where the oracle's
    # || propagates NULL — filtering keeps both engines on defined input
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(
        F.col("e1").isNotNull()
        & F.col("e2").isNotNull()
        & F.col("e3").isNotNull()
    )
    return (
        seq.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("trigram")
        )
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("trigram").asc())
        .limit(10)
    )


@query(
    "agg_equidepth_histogram",
    oracle="""
    WITH c AS (SELECT o_totalprice AS v, COUNT(*) AS n FROM orders
               WHERE o_totalprice IS NOT NULL GROUP BY 1),
    cum AS (SELECT v, n,
             COALESCE(SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS ce,
             SUM(n) OVER () AS total FROM c)
    SELECT CAST(LEAST((ce * 10) // total, 9) AS BIGINT) AS bin_id,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           MIN(v) AS min_v, MAX(v) AS max_v
    FROM cum GROUP BY 1
    """,
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT equi-depth histogram of order values, 10 bins
    (operators/relational.py: equidepth_histogram).  The oracle is the
    textbook global cumulative window; the Spark plan is
    ``operators.block_scan`` over per-distinct-value counts, so no task
    ever sorts the full value domain.  Bin assignment is exact integer
    arithmetic; any block width yields the identical histogram
    (pinned in tests)."""
    from big_data_validator_spark.operators.relational import (
        equidepth_histogram,
    )

    o = _t(spark, sf_dir, "orders")
    return equidepth_histogram(
        o, "o_totalprice", n_bins=10, block_width=10000.0
    )


@query(
    "rule_candidate_keys",
    oracle="""
    SELECT 'o_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_nulls,
           COUNT(DISTINCT o_orderkey) = COUNT(*)
             AND SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
             AS is_candidate_key
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           COUNT(DISTINCT o_custkey) = COUNT(*)
             AND SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           COUNT(DISTINCT o_orderstatus) = COUNT(*)
             AND SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
               = 0
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           COUNT(DISTINCT o_totalprice) = COUNT(*)
             AND SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
               = 0
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           COUNT(DISTINCT o_orderdate) = COUNT(*)
             AND SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
               = 0
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           COUNT(DISTINCT o_orderpriority) = COUNT(*)
             AND SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0
               END) = 0
    FROM orders
    """,
)
def rule_candidate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery over every orders column
    (operators/profile.py: candidate_key_rule): exact row / distinct /
    null counts + the unique-and-never-null verdict, ONE aggregation
    pass (multi-count-distinct compiles to a single Expand plan — one
    scan for all six columns, vs six jobs naively).  The
    uniqueness-contract suggestion a validator emits before any key is
    declared; approx_count_distinct is the documented 100 TB screen."""
    from big_data_validator_spark.operators.profile import (
        candidate_key_rule,
    )

    o = _t(spark, sf_dir, "orders")
    return candidate_key_rule(o).withColumnRenamed("column", "col_name")


@query(
    "drift_chi2_priority",
    oracle="""
    WITH ca AS (SELECT o_orderpriority AS cat,
                       CAST(COUNT(*) AS DOUBLE) AS na
                FROM orders WHERE o_orderkey % 2 = 0
                  AND o_orderpriority IS NOT NULL GROUP BY 1),
    cb AS (SELECT o_orderpriority AS cat,
                  CAST(COUNT(*) AS DOUBLE) AS nb
           FROM orders WHERE o_orderkey % 2 = 1
             AND o_orderpriority IS NOT NULL GROUP BY 1),
    t AS (SELECT COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
          FROM ca FULL OUTER JOIN cb USING (cat)),
    s AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM t),
    cells AS (SELECT na, nb, ta, tb, (na + nb) / (ta + tb) AS p
              FROM t, s)
    SELECT ROUND(SUM(POW(na - p * ta, 2) / (p * ta)
                     + POW(nb - p * tb, 2) / (p * tb)), 6) AS chi2,
           CAST(COUNT(*) - 1 AS BIGINT) AS dof,
           CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b
    FROM cells GROUP BY ta, tb
    """,
)
def drift_chi2_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square homogeneity drift between two order snapshots
    over the CATEGORICAL priority column (operators/relational.py:
    chi_square_drift) — completes the drift triple: PSI (binned
    numeric), KS (continuous, exact), chi-square (categorical).  Each
    snapshot aggregates to per-category counts first, so the shuffle
    carries k categories, not rows; the statistic is O(k) after two
    scans."""
    from big_data_validator_spark.operators.relational import (
        chi_square_drift,
    )

    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 2 == 0)
    new = o.filter(F.col("o_orderkey") % 2 == 1)
    return chi_square_drift(old, new, "o_orderpriority")


@query(
    "agg_correlation_matrix",
    oracle="""
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS pearson_r,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', 'l_discount',
           ROUND(corr(l_quantity, l_discount), 6),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount',
           ROUND(corr(l_extendedprice, l_discount), 6),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    """,
)
def agg_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations for the numeric lineitem columns —
    ALL pairs in ONE aggregation over one scan (``corr`` is a single
    streaming co-moment buffer per pair; the naive form runs one job
    per pair), exploded to long ``(col_a, col_b, pearson_r, n)`` rows
    like the profiler.  The feature-screening statistic every tabular
    pipeline wants from 100 TB without N² scans."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_extendedprice", "l_discount"),
    ]
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"__r_{i}")
        for i, (a, b) in enumerate(pairs)
    ] + [F.count(F.lit(1)).cast("long").alias("__n")]
    wide = li.agg(*aggs)
    structs = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col(f"__r_{i}").alias("pearson_r"),
            F.col("__n").alias("n"),
        )
        for i, (a, b) in enumerate(pairs)
    ]
    return wide.select(F.explode(F.array(*structs)).alias("_s")).select(
        "_s.*"
    )


@query(
    "scan_unpivot_metrics",
    oracle="""
    WITH m AS (SELECT strftime(date_trunc('month', o_orderdate),
                               '%Y-%m') AS month,
                      CAST(COUNT(*) AS DOUBLE) AS n_orders,
                      ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2)
                        AS revenue,
                      ((2 * CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE)
                                       * 100) AS BIGINT)
                        + COUNT(*)) // (2 * COUNT(*))) / 100.0
                        AS avg_price
               FROM orders GROUP BY 1)
    SELECT month, 'n_orders' AS metric, n_orders AS value FROM m
    UNION ALL
    SELECT month, 'revenue', revenue FROM m
    UNION ALL
    SELECT month, 'avg_price', avg_price FROM m
    """,
)
def scan_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: monthly wide metrics reshaped to long
    ``(month, metric, value)`` via ``DataFrame.unpivot`` — an Expand
    node over the ALREADY-AGGREGATED frame (#months rows), so the
    reshape itself is free at any scale.  The wide→long leg every
    metrics store ingest needs; the profiler emits long format for the
    same reason.  avg_price uses exact integer-cent half-up division —
    a float ``round(avg, 2)`` ties on exact half-cents where Spark
    HALF_UP and DuckDB half-even disagree (the window_moving_avg_7d
    failure class; caught by review before the driver caught it)."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        (
            F.expr(
                "(2 * cast(round(sum(o_totalprice) * 100) as bigint)"
                " + count(1)) div (2 * count(1))"
            )
            / 100.0
        ).alias("avg_price"),
    )
    return m.unpivot(
        ids=["month"],
        values=["n_orders", "revenue", "avg_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "scan_partition_pruned",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2) AS revenue
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY 1
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning round-trip: orders written
    ``partitionBy(o_orderpriority)`` (the coarse-grained layout lever
    BESIDE Z-order's fine-grained one), read back with a partition
    predicate — the scan lists ONLY the two matching directories
    (PartitionFilters, pinned in tests/test_partition_pruning.py), so
    at 100 TB the 3/5ths of the table in other priorities is never
    even listed.  Aggregates are hash-matched against the unpartitioned
    oracle, proving the partitioned rewrite loses nothing."""
    import tempfile

    o = _t(spark, sf_dir, "orders")
    out_dir = tempfile.mkdtemp(prefix="bdv_part_")
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
        out_dir
    )
    back = spark.read.parquet(out_dir).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return back.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "emb_centroid_by_label",
    oracle="""
    SELECT label, CAST(dim - 1 AS INT) AS dim,
           ROUND(AVG(CAST(v AS DOUBLE)), 6) AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM (SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS dim
          FROM embeddings)
    GROUP BY 1, 2
    """,
)
def emb_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the class-prototype / cluster-
    center primitive (guardrail centroids, IVF seeding, embedding-drift
    baselines).  ``posexplode`` then groupBy(label, dim) mean: the
    standard distributed column-mean — the shuffle carries
    (labels × dims) partial sums thanks to map-side combine, NOT
    (rows × dims) elements, so a billion-vector corpus reduces to a
    labels×64 frame in one pass.  Values rounded to 6 (map-side
    partial-sum order is nondeterministic; rounding absorbs the
    ~1e-13 float jitter)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "v"
            ),
        )
        .groupBy("label", "dim")
        .agg(
            F.round(F.avg("v"), 6).alias("centroid"),
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
        )
    )


@query(
    "streaming_exactly_once_sink",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(value) AS DOUBLE), 2) AS sum_value
    FROM events WHERE value > 50 GROUP BY 1
    """,
)
def streaming_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE foreachBatch sink end-to-end
    (streaming/validate_stream.py: idempotent_batch_sink): events
    streamed, filtered, written to batch_id-committed parquet dirs
    (replayed batches no-op on the _SUCCESS marker), drained via
    ``availableNow``, read back recursively and aggregated — the
    hash-match against the batch SQL proves no row was dropped or
    double-written across micro-batches.  The replay-idempotence
    property itself is pinned in tests/test_streaming_exactly_once.py
    by re-invoking a committed batch id."""
    from big_data_validator_spark.streaming.validate_stream import (
        idempotent_batch_sink,
    )

    return _bounded_drain(
        spark,
        "streaming_exactly_once_sink",
        lambda d: idempotent_batch_sink(
            _events_stream(spark, sf_dir, d.root).filter(F.col("value") > 50),
            f"{d.root}/sink",
            d.checkpoint,
        ),
        lambda d: spark.read.option("recursiveFileLookup", "false")
        .parquet(f"{d.root}/sink")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ),
    )


@query(
    "text_unigram_lm_score",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS w
      FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM words),
    vocab AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS cnt FROM words
              GROUP BY 1 ORDER BY cnt DESC, w ASC LIMIT 10000)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           ROUND(AVG(-log2(COALESCE(cnt, 0.5) / total)), 4) AS lm_score
    FROM words LEFT JOIN vocab USING (w), tot
    GROUP BY doc_id
    """,
)
def text_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram LM quality score per document
    (operators/text.py: unigram_lm_scores): mean −log2 p(word) under
    the corpus unigram distribution — the cheap LM filter run before a
    real LM at corpus scale.  Wordcount-shaped shuffle, bounded
    TakeOrdered vocabulary, broadcast vocab join, one agg back to
    documents; no driver-side vocabulary."""
    from big_data_validator_spark.operators.text import unigram_lm_scores

    d = _t(spark, sf_dir, "documents")
    return unigram_lm_scores(d, "text", "doc_id", vocab_size=10000)


@query(
    "text_langid_confusion",
    oracle="""
    WITH scored AS (
      SELECT lang AS lang_actual,
        len(regexp_extract_all(lower(text),
            '\\b(the|and|of|with|for)\\b')) AS s_en,
        len(regexp_extract_all(lower(text),
            '\\b(le|la|les|des|est)\\b')) AS s_fr,
        len(regexp_extract_all(lower(text),
            '\\b(el|los|las|por|una)\\b')) AS s_es,
        len(regexp_extract_all(lower(text),
            '\\b(der|die|das|und|ist)\\b')) AS s_de,
        len(regexp_extract_all(lower(text),
            '\\b(de5|shi4|le5|zai4|you3)\\b')) AS s_zh
      FROM documents)
    SELECT lang_actual,
           CASE
             WHEN s_en > 0 AND s_en >= s_fr AND s_en >= s_es
                  AND s_en >= s_de AND s_en >= s_zh THEN 'en'
             WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_de
                  AND s_fr >= s_zh THEN 'fr'
             WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_zh THEN 'es'
             WHEN s_de > 0 AND s_de >= s_zh THEN 'de'
             WHEN s_zh > 0 THEN 'zh'
             ELSE 'unknown'
           END AS lang_guess,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM scored GROUP BY 1, 2
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of the stopword-marker
    heuristic (operators/text.py: lang_guess) against the labeled
    ``lang`` column — the accuracy audit any classifier-driven
    curation gate needs.  One codegen'd projection + a (langs ×
    langs)-cardinality aggregation; the shuffle carries the matrix,
    not documents."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("lang").alias("lang_actual"),
            T.lang_guess(F.col("text")).alias("lang_guess"),
        )
        .groupBy("lang_actual", "lang_guess")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@query(
    "window_moving_avg_7d",
    oracle="""
    WITH d AS (SELECT CAST(date_trunc('day', o_orderdate) AS DATE)
                        AS day,
                      CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE) * 100)
                        AS BIGINT) AS cents
               FROM orders GROUP BY 1),
    k AS (SELECT day, cents,
                 CAST(day - DATE '1970-01-01' AS BIGINT) AS day_idx
          FROM d),
    w AS (SELECT day, cents,
                 SUM(cents) OVER (ORDER BY day_idx RANGE BETWEEN
                   6 PRECEDING AND CURRENT ROW) AS wsum,
                 COUNT(*) OVER (ORDER BY day_idx RANGE BETWEEN
                   6 PRECEDING AND CURRENT ROW) AS wdays
          FROM k)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           cents / 100.0 AS revenue,
           ((2 * wsum + wdays) // (2 * wdays)) / 100.0 AS avg_7d,
           CAST(wdays AS BIGINT) AS days_in_window
    FROM w
    """,
)
def window_moving_avg_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily revenue with a RANGE window frame —
    unlike a ROWS frame, RANGE BETWEEN 6 PRECEDING spans CALENDAR days,
    so gaps in the date sequence shrink the window instead of silently
    reaching further back (``days_in_window`` exposes exactly that).
    Aggregate-to-days first: the unpartitioned window runs over #days
    rows, never orders.  The average is computed in EXACT integer
    cents with explicit half-up division — a float ``round(avg, 2)``
    lands on exact half-cents whenever a window holds two days, where
    Spark's HALF_UP and DuckDB's half-even disagree (found the hard
    way; rounding only absorbs float JITTER, not exact ties)."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
    ).agg(
        F.round(F.sum("o_totalprice") * 100)
        .cast("long")
        .alias("cents")
    )
    k = d.withColumn("day_idx", F.datediff("day", F.lit("1970-01-01")))
    w = Window.orderBy("day_idx").rangeBetween(-6, 0)
    win = k.select(
        "day",
        "cents",
        F.sum("cents").over(w).alias("wsum"),
        F.count(F.lit(1)).over(w).alias("wdays"),
    )
    return win.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("cents") / 100.0).alias("revenue"),
        (
            F.expr("(2 * wsum + wdays) div (2 * wdays)") / 100.0
        ).alias("avg_7d"),
        F.col("wdays").cast("long").alias("days_in_window"),
    )


@query(
    "dim_scd2_user_state",
    oracle="""
    WITH changes AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events),
    starts AS (
      SELECT user_id, ts, event_id, event_type FROM changes
      WHERE prev_type IS NULL OR event_type <> prev_type),
    versions AS (
      SELECT user_id, event_type,
             ts AS valid_from,
             LEAD(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM starts)
    SELECT user_id, event_type,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
           COALESCE(strftime(valid_to, '%Y-%m-%d %H:%M:%S'), 'current')
             AS valid_to,
           CAST(valid_to IS NULL AS BOOLEAN) AS is_current
    FROM versions
    """,
)
def dim_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build: each user's event_type
    history compressed to validity intervals ``[valid_from, valid_to)``
    with the open 'current' version flagged — the warehouse pattern for
    tracking attribute history without overwriting.  Two window passes
    over the SAME (user, ts) sort (change detection via lag, interval
    close via lead on the shrunken change rows) — one shuffle on
    user_id, reused by both windows; the second window runs over change
    rows only, which is the frame after run-length compression."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    )
    versions = changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    return versions.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias(
            "valid_from"
        ),
        F.coalesce(
            F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss"),
            F.lit("current"),
        ).alias("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
    )


@query(
    "drift_text_kl",
    oracle="""
    WITH wa AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
                              x -> x <> '')) AS w
                FROM documents WHERE doc_id % 2 = 0),
    wb AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
                         x -> x <> '')) AS w
           FROM documents WHERE doc_id % 2 = 1),
    ca AS (SELECT w, COUNT(*) AS na FROM wa GROUP BY 1),
    cb AS (SELECT w, COUNT(*) AS nb FROM wb GROUP BY 1),
    j AS (SELECT COALESCE(ca.w, cb.w) AS w,
                 COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
          FROM ca FULL OUTER JOIN cb ON ca.w = cb.w),
    t AS (SELECT CAST(SUM(na) AS DOUBLE) AS ta,
                 CAST(SUM(nb) AS DOUBLE) AS tb,
                 CAST(COUNT(*) AS DOUBLE) AS v
          FROM j)
    SELECT ROUND(SUM(((na + 1) / (ta + v))
                     * log2(((na + 1) / (ta + v))
                            / ((nb + 1) / (tb + v)))), 6) AS kl_bits,
           CAST(MAX(v) AS BIGINT) AS vocab_size,
           CAST(MAX(ta) AS BIGINT) AS n_words_a,
           CAST(MAX(tb) AS BIGINT) AS n_words_b
    FROM j, t
    """,
)
def drift_text_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TEXT drift: KL divergence (bits) between the
    add-one-smoothed unigram distributions of two document snapshots —
    the text sibling of PSI/KS/chi-square, catching vocabulary and
    topic shift that schema-level monitors can't see.  Both snapshots
    live in the same table here, so ONE scan + conditional aggregation
    (``sum(when(side_a, 1))`` / ``sum(when(side_b, 1))``) produces
    both wordcount columns — no second scan, no vocab full-outer join
    (VERDICT r5 #2; genuinely separate snapshot TABLES would use one
    wordcount aggregation per table + the join, same downstream).
    Map-side combine means the single shuffle carries distinct words;
    the statistic is O(vocab).  The per-word count relation is pinned
    while the totals and the statistic both read it (Spark shares no
    subplans — uncached, the totals leg would re-scan the corpus),
    then released via materialize_release on the 1-row result; at
    100 TB that caches vocab-sized counts, never corpus rows.  Laplace
    smoothing keeps every term finite on one-sided words; log ratios
    are transcendental, so round-6 has no exact tie class."""
    d = _t(spark, sf_dir, "documents")
    j = (
        d.select(
            (F.col("doc_id") % 2 == 0).alias("_a"),
            F.explode(
                F.expr("filter(split(lower(text), ' '), x -> x != '')")
            ).alias("w"),
        )
        .groupBy("w")
        .agg(
            F.sum(F.when(F.col("_a"), 1).otherwise(0)).alias("na"),
            F.sum(F.when(~F.col("_a"), 1).otherwise(0)).alias("nb"),
        )
        .select("na", "nb")
        .persist()
    )
    t = j.agg(
        F.sum("na").cast("double").alias("ta"),
        F.sum("nb").cast("double").alias("tb"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    cells = j.crossJoin(F.broadcast(t)).select(
        ((F.col("na") + 1) / (F.col("ta") + F.col("v"))).alias("pa"),
        ((F.col("nb") + 1) / (F.col("tb") + F.col("v"))).alias("pb"),
        "ta",
        "tb",
        "v",
    )
    result = cells.agg(
        F.round(
            F.sum(F.col("pa") * F.log2(F.col("pa") / F.col("pb"))), 6
        ).alias("kl_bits"),
        F.max("v").cast("long").alias("vocab_size"),
        F.max("ta").cast("long").alias("n_words_a"),
        F.max("tb").cast("long").alias("n_words_b"),
    )
    result._bdv_pinned = [j]  # the convention release_pinned honors
    return D.materialize_release(result)


@query(
    "mining_frequent_pairs",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ORDER BY support DESC, item_a ASC, item_b ASC LIMIT 20
    """,
)
def mining_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining: the 20 part pairs most often
    bought in the same order (support ≥ 2), in the TWO-exchange basket
    shape (VERDICT r5 #1; the old distinct + self-join planned four):
    ``groupBy(order).collect_set(item)`` builds each basket in one
    shuffle (collect_set dedups, replacing the old ``distinct()``
    pass), pair expansion is ROW-LOCAL array code (sorted basket,
    ordered pairs via indexed transform + slice — identical Σ k²/2
    blowup math, zero extra exchanges), and the pair count is the
    second and last shuffle.  Top-k plans as TakeOrderedAndProject
    with full tie-breaks."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("_items")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("_items"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("_items"),
                    i + 2,
                    F.greatest(
                        F.size(F.col("_items")) - i - 1, F.lit(0)
                    ),
                ),
                lambda y: F.struct(
                    x.alias("item_a"), y.alias("item_b")
                ),
            ),
        )
    )
    pairs = baskets.select(F.explode(pair_structs).alias("p")).select(
        F.col("p.item_a"), F.col("p.item_b")
    )
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 2)
        .orderBy(
            F.col("support").desc(),
            F.col("item_a").asc(),
            F.col("item_b").asc(),
        )
        .limit(20)
    )


@query(
    "gen_synthetic_validated",
    oracle="""
    WITH g AS (
      SELECT i,
             CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':gen'),
                                      1, 8) AS UBIGINT) % 1000 AS BIGINT)
               AS amount_cents,
             CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':gen'),
                                      9, 8) AS UBIGINT) % 5 AS BIGINT)
               AS segment
      FROM generate_series(0, 9999) AS t(i))
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(amount_cents) AS BIGINT) AS sum_cents,
           CAST(MIN(amount_cents) AS BIGINT) AS min_cents,
           CAST(MAX(amount_cents) AS BIGINT) AS max_cents
    FROM g GROUP BY 1
    """,
)
def gen_synthetic_validated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic-data factory: 10k rows generated from
    ``spark.range`` + md5-derived fields (NO RNG state — the same
    engine-portable digest device as the samplers, so DuckDB generates
    the IDENTICAL table), then summarized per segment.  This is how a
    100 TB test corpus is minted on-cluster: ``range`` parallelizes
    perfectly, every field is a pure function of the row id, and any
    slice can be regenerated independently for verification —
    generation IS the oracle."""
    _ensure_worker_imports(spark)
    g = spark.range(0, 10000).select(
        F.col("id").alias("i"),
        F.md5(
            F.encode(
                F.concat(F.col("id").cast("string"), F.lit(":gen")),
                "UTF-8",
            )
        ).alias("h"),
    )
    fields = g.select(
        "i",
        F.pmod(
            F.conv(F.substring("h", 1, 8), 16, 10).cast("long"), F.lit(1000)
        ).alias("amount_cents"),
        F.pmod(
            F.conv(F.substring("h", 9, 8), 16, 10).cast("long"), F.lit(5)
        ).alias("segment"),
    )
    return fields.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("amount_cents").cast("long").alias("sum_cents"),
        F.min("amount_cents").cast("long").alias("min_cents"),
        F.max("amount_cents").cast("long").alias("max_cents"),
    )


@query(
    "cdc_apply_changeset",
    oracle="""
    WITH cur AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10
               AS price_decicents,
             o_orderpriority
      FROM orders),
    incoming AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11
                  ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10
             END AS price_decicents,
             o_orderpriority
      FROM orders WHERE o_orderkey % 10 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10,
             o_orderpriority
      FROM orders WHERE o_orderkey % 13 = 0),
    changes AS (
      SELECT COALESCE(c.o_orderkey, i.o_orderkey) AS o_orderkey,
             CASE WHEN i.o_orderkey IS NULL THEN 'delete'
                  WHEN c.o_orderkey IS NULL THEN 'insert'
                  WHEN c.o_orderstatus IS DISTINCT FROM i.o_orderstatus
                    OR c.price_decicents IS DISTINCT FROM i.price_decicents
                    OR c.o_orderpriority IS DISTINCT FROM i.o_orderpriority
                  THEN 'update' ELSE 'unchanged' END AS change_type,
             i.o_orderstatus, i.price_decicents, i.o_orderpriority
      FROM cur c FULL OUTER JOIN incoming i
        ON c.o_orderkey = i.o_orderkey),
    delta AS (SELECT * FROM changes WHERE change_type <> 'unchanged')
    SELECT o_orderkey, o_orderstatus, price_decicents, o_orderpriority
    FROM cur
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta
                             WHERE change_type IN ('delete', 'update'))
    UNION ALL
    SELECT o_orderkey, o_orderstatus, price_decicents, o_orderpriority
    FROM delta WHERE change_type IN ('insert', 'update')
    """,
)
def cdc_apply_changeset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE half of the CDC loop (operators/cdc.py:
    apply_changeset): the same simulated incoming snapshot as
    cdc_changeset_orders is diffed against current (include_payload
    carries the new row values through the fingerprint join), and the
    changeset is APPLIED back — one left-anti join removes
    deleted/updated keys from the base, a union adds insert/update
    rows.  The applied snapshot must reproduce ``incoming`` exactly;
    the oracle recomputes the MERGE independently in DuckDB, so the
    whole diff→apply roundtrip is hash-checked.  Prices are quantized
    to exact deci-cent integers FIRST and the 10%% bump happens in
    integer space (×11 vs ×10) — ``round(price*1.1, 2)`` would tie on
    shortest-repr .xx5 values where Spark HALF_UP and DuckDB's
    binary-value rounding disagree.  At 100 TB: the diff job and the
    apply job each shuffle the base on its key once (zero-Exchange when
    snapshots are bucketed), and the base is never rewritten
    row-by-row.  This self-contained entry leaves the changeset LAZY,
    so its subtree evaluates twice (touched-keys leg + upsert leg);
    a production pipeline materializes the delta table between the two
    jobs — it is the CDC artifact — and pays the diff exactly once."""
    from big_data_validator_spark.operators.cdc import (
        apply_changeset,
        snapshot_changeset,
    )

    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    current = o.select(
        "o_orderkey",
        "o_orderstatus",
        (cents * 10).alias("price_decicents"),
        "o_orderpriority",
    )
    base = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, cents * 11)
        .otherwise(cents * 10)
        .alias("price_decicents"),
        "o_orderpriority",
    )
    inserts = o.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_orderstatus",
        (cents * 10).alias("price_decicents"),
        "o_orderpriority",
    )
    incoming = base.unionAll(inserts)
    changeset = snapshot_changeset(
        current,
        incoming,
        key_cols=["o_orderkey"],
        compare_cols=[
            "o_orderstatus", "price_decicents", "o_orderpriority"
        ],
        include_payload=True,
    )
    return apply_changeset(current, changeset, key_cols=["o_orderkey"])


def _trend_oracle_sql() -> str:
    """DuckDB mirror of the 4-run metrics repository + trend rule.
    Built by helper so the run thresholds stay in ONE place."""
    thr = ", ".join(f"({i}, {t})" for i, t in enumerate(_TREND_RUNS))
    metric = {
        "row_count": "COUNT(*)",
        "null_count_k": "SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)",
        "distinct_count_k": "COUNT(DISTINCT o_orderkey)",
        "min_k": "MIN(o_orderkey)",
        "max_k": "MAX(o_orderkey)",
        "null_count_p": "SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)",
        "distinct_count_p": "COUNT(DISTINCT o_orderpriority)",
        "min_length_p": "MIN(len(o_orderpriority))",
        "max_length_p": "MAX(len(o_orderpriority))",
    }
    legs = []
    for m, expr in metric.items():
        col = "o_orderkey" if m.endswith("_k") or m == "row_count" else "o_orderpriority"
        name = m[:-2] if m.endswith(("_k", "_p")) else m
        legs.append(
            f"SELECT run_id, '{col}' AS \"column\", '{name}' AS metric,"
            f" CAST({expr} AS DOUBLE) AS value FROM src GROUP BY run_id"
        )
    # row_count replicates per profiled column (profile_table contract)
    legs.append(
        "SELECT run_id, 'o_orderpriority' AS \"column\","
        " 'row_count' AS metric, CAST(COUNT(*) AS DOUBLE) AS value"
        " FROM src GROUP BY run_id"
    )
    union = "\n      UNION ALL\n      ".join(legs)
    return f"""
    WITH runs(run_id, thr) AS (VALUES {thr}),
    src AS (SELECT r.run_id, o.o_orderkey, o.o_orderpriority
            FROM runs r JOIN orders o ON o.o_orderkey % 100 < r.thr),
    m AS ({union}),
    w AS (SELECT run_id, "column", metric, value,
            COUNT(value) OVER win AS n_prev,
            AVG(value) OVER win AS mean,
            STDDEV_SAMP(value) OVER win AS std
          FROM m
          WINDOW win AS (PARTITION BY "column", metric ORDER BY run_id
                         ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))
    SELECT run_id, "column", metric, value,
           ROUND(mean, 6) AS trailing_mean,
           ROUND(std, 6) AS trailing_std,
           ROUND(CASE WHEN n_prev >= 2 AND std > 0
                      THEN (value - mean) / std END, 4) AS z_score,
           COALESCE(ABS(CASE WHEN n_prev >= 2 AND std > 0
                             THEN (value - mean) / std END) > 3.0,
                    FALSE) AS is_anomaly
    FROM w
    """


#: Per-run filter thresholds for the synthetic metrics repository:
#: three stable runs, then a half-volume regression the rule must flag.
_TREND_RUNS = [88, 89, 90, 45]


@query("rule_profile_trend_anomaly", oracle=_trend_oracle_sql())
def rule_profile_trend_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metrics repository + trend-based validation (operators/profile.py:
    metrics_history + profile_trend_anomalies — the Deequ
    repository/AnomalyDetection shape): four profile runs of orders
    snapshots (three stable, one halved), stacked long, then every
    (column, metric) z-scored against its own trailing-3-run history
    with the current run excluded from its baseline.  The halved run
    flags on volume metrics; constant metrics (null_count, priority
    distinct_count) exercise the zero-variance NULL-z branch.  Only
    integer-valued metrics are monitored here so the history values are
    engine-exact; z rounds to 4 (irrational unless variance is 0).
    Scale: each run is one single-pass profile aggregation; the trend
    window runs over one row per run per metric — the raw table is
    never re-read by the rule."""
    from big_data_validator_spark.operators.profile import (
        metrics_history,
        profile_trend_anomalies,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    runs = [
        (i, o.filter(F.col("o_orderkey") % 100 < t))
        for i, t in enumerate(_TREND_RUNS)
    ]
    hist = metrics_history(runs, columns=["o_orderkey", "o_orderpriority"])
    keep = [
        "row_count", "null_count", "distinct_count",
        "min", "max", "min_length", "max_length",
    ]
    return profile_trend_anomalies(
        hist.filter(F.col("metric").isin(keep)),
        trailing=3,
        z_threshold=3.0,
    )


@query(
    "agg_incremental_totals",
    oracle="""
    WITH incoming AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 5 = 0
                  THEN CAST(o_totalprice AS DECIMAL(18,6))
                       + CAST(10.5 AS DECIMAL(18,6))
                  ELSE CAST(o_totalprice AS DECIMAL(18,6)) END AS v
      FROM orders WHERE o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,6))
      FROM orders WHERE o_orderkey % 13 = 0)
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(v * 1000000 AS BIGINT)) AS BIGINT)
             AS total_micro
    FROM incoming GROUP BY 1
    """,
)
def agg_incremental_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance (operators/cdc.py:
    changeset_delta_rows + apply_delta_to_group_totals): a per-priority
    count/total summary of yesterday's orders is advanced to today's
    state by applying SIGNED delta rows (+new/-old, emitted by one
    full-outer key join whose volume is the CHANGE RATE, not the
    table) — deletes, price updates, and inserts all maintained without
    rescanning the base.  The ORACLE is the full recompute over the
    incoming snapshot, so the driver check IS the
    incremental-equals-recompute invariant.  Money ACCUMULATES in
    exact DECIMAL (float increments would drift from the recomputed
    truth) but SHIPS as micro-unit BIGINT ``total_micro`` — scale-6
    decimals convert to micro-units exactly, and wide-decimal output
    columns broke the round-7 driver value-hash (decimal128
    canonicalization diverges across engines' materialization layers;
    BIGINT's does not).  Overflow-guarded, same discipline as the
    deci-cent ``cdc_apply_changeset``."""
    from big_data_validator_spark.operators.cdc import (
        apply_delta_to_group_totals,
        changeset_delta_rows,
    )

    current, incoming = _mv_snapshots(spark, sf_dir)
    summary = current.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("total").alias("total"),
    )
    deltas = changeset_delta_rows(
        current, incoming, ["o_orderkey"], ["o_orderpriority", "total"]
    )
    maintained = apply_delta_to_group_totals(
        summary,
        deltas,
        group_cols=["o_orderpriority"],
        sum_cols=["total"],
        count_col="n_orders",
    )
    return maintained.select(
        "o_orderpriority",
        "n_orders",
        _mv_total_micro().alias("total_micro"),
    )


def _mv_total_micro(col: str = "total"):
    """Exact scale-6 DECIMAL → micro-unit BIGINT for the MV entries'
    SHIPPED total (the accumulation stays DECIMAL; wide-decimal output
    columns broke the round-7 driver value-hash).  Narrow to
    DECIMAL(25,6) first so the ×10⁶ product (→ DECIMAL(33,6)) never
    hits Spark's precision-38 cap and silently loses scale; the guard
    raises loudly before the narrowing could overflow (|total| bound
    9.2e12 keeps the micro value inside BIGINT with 10× headroom to
    DECIMAL(25,6)'s own 1e19 range)."""
    t = F.col(col)
    guarded = F.when(
        t.isNotNull() & (F.abs(t) > F.lit(9_200_000_000_000.0)),
        F.raise_error(
            F.lit(
                "mv total overflows micro-unit BIGINT; ship coarser "
                "integer units"
            )
        ).cast("decimal(25,6)"),
    ).otherwise(t.cast("decimal(25,6)"))
    return (guarded * F.lit(1000000).cast("decimal(7,0)")).cast("long")


def _mv_delta_stream_source(spark: SparkSession, sf_dir: str) -> str:
    """The 3-batch CDC delta feed for the streaming view maintenance
    drain: the signed delta rows between the agg_incremental_totals
    snapshots, split by ``o_orderkey % 3`` into staged runs."""
    from big_data_validator_spark.operators.cdc import changeset_delta_rows

    def runs() -> list:
        current, incoming = _mv_snapshots(spark, sf_dir)
        deltas = changeset_delta_rows(
            current, incoming, ["o_orderkey"], ["o_orderpriority", "total"]
        )
        return [deltas.filter(F.col("o_orderkey") % 3 == r) for r in range(3)]

    return _staged_runs(spark, sf_dir, "mv", runs)


def _mv_snapshots(spark: SparkSession, sf_dir: str):
    """The current/incoming snapshot pair shared by the batch
    (agg_incremental_totals) and streaming (streaming_incremental_mv)
    maintenance entries — one definition, one oracle shape."""
    o = _t(spark, sf_dir, "orders")
    v = F.col("o_totalprice").cast("decimal(18,6)")
    current = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_orderpriority", v.alias("total")
    )
    bumped = F.when(
        F.col("o_orderkey") % 5 == 0,
        v + F.expr("CAST(10.5 AS DECIMAL(18,6))"),
    ).otherwise(v)
    incoming = (
        o.filter(
            (F.col("o_orderkey") % 10 != 0) & (F.col("o_orderkey") % 7 != 0)
        )
        .select("o_orderkey", "o_orderpriority", bumped.alias("total"))
        .unionByName(
            o.filter(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                "o_orderpriority",
                v.alias("total"),
            )
        )
    )
    return current, incoming


@query(
    "streaming_incremental_mv",
    oracle="""
    WITH incoming AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 5 = 0
                  THEN CAST(o_totalprice AS DECIMAL(18,6))
                       + CAST(10.5 AS DECIMAL(18,6))
                  ELSE CAST(o_totalprice AS DECIMAL(18,6)) END AS v
      FROM orders WHERE o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,6))
      FROM orders WHERE o_orderkey % 13 = 0)
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(v * 1000000 AS BIGINT)) AS BIGINT)
             AS total_micro
    FROM incoming GROUP BY 1
    """,
)
def streaming_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING materialized-view maintenance, oracle-checked
    end-to-end (streaming/validate_stream.py:
    stream_apply_deltas_to_totals): the CDC delta feed between the
    agg_incremental_totals snapshots arrives as 3 micro-batches; each
    batch advances the per-priority count/total view from the previous
    batch's committed state under the _SUCCESS protocol (replays
    no-op, so the chain is exactly-once), never reading the base
    table.  The oracle is the SAME full recompute as the batch twin —
    the driver check pins that three sequential partial delta
    applications land on the identical exact-DECIMAL view a recompute
    would build, i.e. the streaming view is always a prefix-consistent
    state of the table.  Ships micro-unit BIGINT like the batch twin
    (wide-decimal outputs break driver-hash canonicalization; the
    DECIMAL accumulation stays internal)."""
    from big_data_validator_spark.streaming.validate_stream import (
        stream_apply_deltas_to_totals,
    )

    current, _ = _mv_snapshots(spark, sf_dir)
    summary = current.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("total").alias("total"),
    )
    src = _mv_delta_stream_source(spark, sf_dir)
    return _bounded_drain(
        spark,
        "streaming_incremental_mv",
        lambda d: stream_apply_deltas_to_totals(
            _ordered_stream(spark, src),
            summary,
            group_cols=["o_orderpriority"],
            sum_cols=["total"],
            state_path=f"{d.root}/state",
            checkpoint_path=d.checkpoint,
            count_col="n_orders",
        ),
        lambda d: spark.read.parquet(f"{d.root}/state/batch_id=2").select(
            "o_orderpriority",
            "n_orders",
            _mv_total_micro().alias("total_micro"),
        ),
    )


@query(
    "agg_incremental_minmax",
    oracle="""
    WITH incoming AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000
             + CASE WHEN o_orderkey % 5 = 0 THEN 10500000 ELSE 0 END
               AS value_micro
      FROM orders WHERE o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000
      FROM orders WHERE o_orderkey % 13 = 0)
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(value_micro) AS BIGINT) AS value_micro_min,
           CAST(MAX(value_micro) AS BIGINT) AS value_micro_max
    FROM incoming GROUP BY 1
    """,
)
def agg_incremental_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MIN/MAX view maintenance (operators/cdc.py:
    apply_delta_to_group_minmax — VERDICT r7 item 4): the
    non-distributive half of IVM, where deleting an extremum holder
    forces a RETREAT only the surviving rows can answer, so touched
    groups recompute from the new base (LEFT SEMI on the
    change-rate-sized touched-group set) while untouched groups pass
    through from the stored summary.  The scenario PLANTS the retreat:
    every ``o_orderkey %% 7 == 0`` row carries a ±1e12-micro boost in
    the current snapshot — making it its group's max (even keys) or
    min (odd keys) — and exactly those rows are deleted in the
    incoming snapshot, so every group's min AND max must retreat to
    normal price scale; %%5 keys get a price bump (update), %%13 keys
    spawn inserts.  The oracle is the full recompute over incoming —
    the driver check IS incremental-equals-recompute under forced
    retreats.  All-integer micro values, BIGINT end-to-end."""
    from big_data_validator_spark.operators.cdc import (
        apply_delta_to_group_minmax,
        changeset_delta_rows,
    )

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    micro = F.round(F.col("o_totalprice") * 100).cast("long") * 10000
    boost = F.when(
        k % 7 == 0,
        F.when(k % 2 == 0, F.lit(1_000_000_000_000)).otherwise(
            F.lit(-1_000_000_000_000)
        ),
    ).otherwise(F.lit(0))
    current = o.select(
        "o_orderkey",
        "o_orderpriority",
        (micro + boost).alias("value_micro"),
    )
    incoming = (
        o.filter(k % 7 != 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            (
                micro
                + F.when(k % 5 == 0, F.lit(10_500_000)).otherwise(F.lit(0))
            ).alias("value_micro"),
        )
        .unionByName(
            o.filter(k % 13 == 0).select(
                (k + 100000000).alias("o_orderkey"),
                "o_orderpriority",
                micro.alias("value_micro"),
            )
        )
    )
    summary = current.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("value_micro").alias("value_micro_min"),
        F.max("value_micro").alias("value_micro_max"),
    )
    deltas = changeset_delta_rows(
        current, incoming, ["o_orderkey"], ["o_orderpriority", "value_micro"]
    )
    return apply_delta_to_group_minmax(
        summary,
        incoming,
        deltas,
        group_cols=["o_orderpriority"],
        minmax_cols=["value_micro"],
        count_col="n_orders",
    )


@query(
    "join_salted_skew",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 10 < 3 THEN 0
                  ELSE l_orderkey % 97 END AS k,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_cents
      FROM lineitem),
    dim AS (
      SELECT i AS k,
             CASE WHEN i = 0 THEN 'hot' ELSE 'cold' END AS label
      FROM generate_series(0, 96) AS t(i))
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(qty_cents) AS BIGINT) AS sum_qty_cents
    FROM fact JOIN dim USING (k) GROUP BY 1
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salt-replication join under ENGINEERED skew
    (operators/relational.py: salted_skew_join): ~30%% of lineitem is
    funneled onto one hot key (``l_orderkey %% 10 < 3 → 0``), the 97-row
    dim is joined through salt-replication — each big row takes a
    deterministic xxhash64 salt, the dim explodes ``salt`` ways
    map-side, and the equi-join runs on (key, salt) so the hot key
    fans across reducers instead of owning one.  The ORACLE is the
    plain unsalted join (salt-invariance IS the correctness property);
    the skew SHAPE — no broadcast, hot key split across partitions —
    is pinned in tests/test_relational.py with the broadcast threshold
    disabled.  This is the static-plan alternative to AQE's runtime
    skew split for engines/pipelines where AQE's thresholds don't
    fire."""
    from big_data_validator_spark.operators.relational import (
        salted_skew_join,
    )

    li = _t(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 3, F.lit(0))
        .otherwise(F.col("l_orderkey") % 97)
        .alias("k"),
        F.round(F.col("l_quantity") * 100)
        .cast("long")
        .alias("qty_cents"),
    )
    dim = spark.range(0, 97).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 0, F.lit("hot"))
        .otherwise(F.lit("cold"))
        .alias("label"),
    )
    joined = salted_skew_join(fact, dim, ["k"], salt=8)
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("qty_cents").cast("long").alias("sum_qty_cents"),
    )


@query(
    "link_part_entities",
    oracle="""
    WITH p AS (
      SELECT p_partkey AS id, p_brand, p_type, p_size,
             list_distinct(string_split(p_name, ' ')) AS toks
      FROM part),
    b AS (SELECT id, unnest(toks) AS tok, p_size, p_brand FROM p),
    cand AS (
      SELECT DISTINCT a.id AS id_a, c.id AS id_b
      FROM b a JOIN b c ON a.tok = c.tok AND a.p_size = c.p_size
                        AND a.p_brand = c.p_brand
                        AND a.id < c.id),
    scored AS (
      SELECT cand.id_a, cand.id_b,
             CAST(len(list_intersect(pa.toks, pb.toks)) AS BIGINT)
               AS inter,
             CAST(len(list_distinct(list_concat(pa.toks, pb.toks)))
                  AS BIGINT) AS uni,
             CAST(pa.p_brand = pb.p_brand AS INT) AS p_brand_eq,
             CAST(pa.p_type = pb.p_type AS INT) AS p_type_eq
      FROM cand JOIN p pa ON cand.id_a = pa.id
                JOIN p pb ON cand.id_b = pb.id)
    SELECT id_a, id_b, inter, uni, p_brand_eq, p_type_eq,
           CAST((50 * inter) // uni + 25 * p_brand_eq + 25 * p_type_eq
                AS BIGINT) AS score
    FROM scored
    WHERE (50 * inter) // uni + 25 * p_brand_eq + 25 * p_type_eq >= 80
    """,
)
def link_part_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part catalog (operators/linkage.py:
    link_entity_pairs — the Fellegi–Sunter shape with fixed integer
    agreement weights): candidates blocked on (name token × size ×
    BRAND) — never all-pairs, the only join is the blocking equi-join —
    then scored 50·token-Jaccard (integer div) + 25 per agreeing
    brand/type field, matches at score ≥ 80.  The agreement vector
    ships with the score so reviewers re-weight without re-running the
    join.  All-integer scoring makes the verdict engine-portable.

    The brand block is LOSSLESS at this threshold (VERDICT r9 item 3):
    a cross-brand pair scores at most 50 + 25 = 75 < 80, so every
    match provably agrees on brand and blocking on it drops no match —
    while cutting candidates ~25× (TPC-H's 92-token name vocabulary
    makes token×size blocks dense by construction; brand is the
    discriminating key).  Pinned in tests/test_linkage.py."""
    from big_data_validator_spark.operators.linkage import (
        link_entity_pairs,
    )

    part = _t(spark, sf_dir, "part")
    # cap inert at every test sf (blocks are (token × size × brand),
    # far under 1000 members) — pinned by the _cap_inert test
    return D.materialize_release(
        link_entity_pairs(
            part,
            id_col="p_partkey",
            name_col="p_name",
            block_cols=["p_size", "p_brand"],
            eq_cols=["p_brand", "p_type"],
            threshold=80,
        )
    )


@query(
    "scan_observed_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_quantity < 5 OR l_quantity > 45
                    THEN 1 ELSE 0 END) AS BIGINT) AS qty_violations,
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.08
                    THEN 1 ELSE 0 END) AS BIGINT) AS disc_violations,
           CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                    THEN 1 ELSE 0 END) AS BIGINT) AS flag_violations
    FROM lineitem
    """,
)
def scan_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation metrics for FREE on another job via the Observation
    API (``df.observe`` — the Deequ runtime-metrics pattern): the rule
    aggregates ride along a noop write of the full table, so the
    metrics cost ZERO extra scans — at 100 TB this is how ingest-time
    validation avoids doubling the read (every other rule entry here
    pays its own scan; an observed pipeline piggybacks the one it was
    already doing).  The observation is collected AFTER the job
    completes (an action on the observed frame is the contract);
    accumulator-style double-counting on task retries does not apply to
    Observation metrics — Spark reconciles them per-stage exactly
    once."""
    from pyspark.sql import Observation

    obs = Observation("bdv_rules")
    li = _t(spark, sf_dir, "lineitem")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            ((F.col("l_quantity") < 5) | (F.col("l_quantity") > 45)).cast(
                "long"
            )
        ).alias("qty_violations"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.08)).cast(
                "long"
            )
        ).alias("disc_violations"),
        F.sum(
            (~F.col("l_returnflag").isin("A", "N", "R")).cast("long")
        ).alias("flag_violations"),
    )
    # the job the metrics ride on (in production: the ingest write)
    observed.write.format("noop").mode("overwrite").save()
    row = obs.get
    return spark.createDataFrame(
        [
            (
                row["n_rows"],
                row["qty_violations"],
                row["disc_violations"],
                row["flag_violations"],
            )
        ],
        "n_rows long, qty_violations long, disc_violations long,"
        " flag_violations long",
    )


@query(
    "ts_twap_daily",
    oracle="""
    WITH base AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
             CAST(floor(value * 100.0) AS BIGINT) AS vq
      FROM events WHERE value IS NOT NULL),
    wts AS (
      SELECT user_id, day, vq,
        epoch_us(COALESCE(
          LEAD(ts) OVER (PARTITION BY user_id, day
                         ORDER BY ts, event_id),
          CAST(day + INTERVAL 1 DAY AS TIMESTAMP)))
          - epoch_us(ts) AS w
      FROM base),
    agg AS (
      SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_obs,
             SUM(CAST(vq AS HUGEINT) * w) AS num_h,
             CAST(SUM(w) AS BIGINT) AS den_us
      FROM wts GROUP BY 1, 2)
    SELECT user_id, day, n_obs,
           CAST(num_h AS BIGINT) AS num_qus, den_us,
           -- HUGEINT division: DECIMAL // goes through DOUBLE and
           -- 100*num exceeds exact-double range (off-by-one rounding)
           CAST((100 * num_h) // den_us AS BIGINT)
             AS twap_e4
    FROM agg
    """,
)
def ts_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user DAILY time-weighted average value
    (operators/timeseries.py: time_weighted_daily_avg): each
    observation's value holds until the next observation in the same
    (user, day), the last until end-of-day — the TWAP a metering /
    pricing / sensor pipeline needs where a plain AVG over-weights
    sample bursts.  Values quantize to integer centi-units via floor,
    holding times are exact integer microseconds, and the weighted sum
    accumulates in DECIMAL(38,0) — integer accumulation commutes, so
    the result is row-order-independent and bit-identical cross-engine
    (a double Σ v·w depends on reduction order and is neither).  The
    numerator SHIPS as BIGINT (range-guarded; the wide decimal stays
    internal): DECIMAL(38,x) output columns broke the round-7 driver
    value-hash — decimal128 canonicalization diverges between engines'
    materialization layers, BIGINT's does not.  One (user, day)
    shuffle shared by the lead window and the aggregation."""
    from big_data_validator_spark.operators.timeseries import (
        time_weighted_daily_avg,
    )

    ev = _t(spark, sf_dir, "events")
    return time_weighted_daily_avg(
        ev,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        order_tiebreak="event_id",
    )


@query(
    "profile_fd_discovery",
    oracle="""
    WITH base AS (
      SELECT o_orderstatus AS st, o_orderpriority AS pr,
             CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(year(o_orderdate) >= 1998 AS BIGINT) AS era
      FROM orders),
    combos AS (SELECT DISTINCT st, pr, yr, era FROM base),
    pairs AS (
      SELECT 'st' AS lhs, 'pr' AS rhs, st AS a, pr AS b FROM combos
      UNION ALL SELECT 'st', 'yr', st, CAST(yr AS VARCHAR) FROM combos
      UNION ALL SELECT 'st', 'era', st, CAST(era AS VARCHAR) FROM combos
      UNION ALL SELECT 'pr', 'st', pr, st FROM combos
      UNION ALL SELECT 'pr', 'yr', pr, CAST(yr AS VARCHAR) FROM combos
      UNION ALL SELECT 'pr', 'era', pr, CAST(era AS VARCHAR) FROM combos
      UNION ALL SELECT 'yr', 'st', CAST(yr AS VARCHAR), st FROM combos
      UNION ALL SELECT 'yr', 'pr', CAST(yr AS VARCHAR), pr FROM combos
      UNION ALL SELECT 'yr', 'era', CAST(yr AS VARCHAR),
                       CAST(era AS VARCHAR) FROM combos
      UNION ALL SELECT 'era', 'st', CAST(era AS VARCHAR), st FROM combos
      UNION ALL SELECT 'era', 'pr', CAST(era AS VARCHAR), pr FROM combos
      UNION ALL SELECT 'era', 'yr', CAST(era AS VARCHAR),
                       CAST(yr AS VARCHAR) FROM combos),
    per_lhs AS (
      SELECT lhs, rhs, a, COUNT(DISTINCT b) AS nb
      FROM (SELECT DISTINCT lhs, rhs, a, b FROM pairs)
      GROUP BY 1, 2, 3)
    SELECT lhs, rhs,
           CAST(COUNT(*) AS BIGINT) AS n_lhs_values,
           CAST(SUM(nb) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_lhs,
           SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM per_lhs GROUP BY 1, 2
    """,
)
def profile_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency DISCOVERY (operators/profile.py:
    fd_discovery): every ordered pair of (status, priority, order-year,
    era) scored for lhs→rhs dependency — the search that feeds the
    single-pair FD rule and the contract-suggestion loop with
    candidate constraints.  The planted era column (year >= 1998) makes
    yr→era a TRUE dependency the discovery must find while era→yr and
    every other pair fail with measured violating-lhs counts.  One
    corpus scan builds the distinct-combination relation; all 12 pair
    aggregations run over that tiny frame (combo-cardinality-bounded,
    the base is never re-read).  String-cast comparisons in the oracle
    mirror value distinctness, not representation."""
    from big_data_validator_spark.operators.profile import fd_discovery

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("st"),
        F.col("o_orderpriority").alias("pr"),
        F.year("o_orderdate").cast("long").alias("yr"),
        (F.year("o_orderdate") >= 1998).cast("long").alias("era"),
    )
    return fd_discovery(o, ["st", "pr", "yr", "era"])


def _fd2_oracle_sql() -> str:
    """DuckDB mirror of the level-2 FD search INCLUDING the TANE
    pruning rule (a composite candidate appears only when both
    single-column parents fail) — generated so the pruning logic lives
    in one loop on each side and at any scale factor."""
    from itertools import combinations

    cols = ["st", "pr", "yr", "slot"]
    singles = []
    for a in cols:
        for c in cols:
            if a == c:
                continue
            singles.append(
                f"s_{a}_{c} AS (SELECT SUM(CASE WHEN nb > 1 THEN 1 "
                "ELSE 0 END) = 0 AS holds FROM "
                f"(SELECT {a}, COUNT(DISTINCT {c}) AS nb FROM combos "
                f"GROUP BY {a}))"
            )
    legs = []
    for a, b in combinations(cols, 2):
        for c in cols:
            if c in (a, b):
                continue
            legs.append(
                "SELECT * FROM ("
                f"SELECT '{a}+{b}' AS lhs, '{c}' AS rhs,"
                " CAST(COUNT(*) AS BIGINT) AS n_lhs_values,"
                " CAST(SUM(nb) AS BIGINT) AS n_pairs,"
                " CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END)"
                " AS BIGINT) AS n_violating_lhs,"
                " SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds"
                f" FROM (SELECT {a}, {b}, COUNT(DISTINCT {c}) AS nb"
                f" FROM combos GROUP BY {a}, {b})"
                f") WHERE NOT (SELECT holds FROM s_{a}_{c})"
                f" AND NOT (SELECT holds FROM s_{b}_{c})"
            )
    return (
        "WITH base AS (SELECT o_orderstatus AS st,"
        " o_orderpriority AS pr,"
        " CAST(year(o_orderdate) AS VARCHAR) AS yr,"
        " o_orderstatus || '#' || o_orderpriority AS slot FROM orders),"
        " combos AS MATERIALIZED"
        " (SELECT DISTINCT st, pr, yr, slot FROM base), "
        + ", ".join(singles)
        + " "
        + " UNION ALL ".join(legs)
    )


@query("profile_fd_composite", oracle=_fd2_oracle_sql())
def profile_fd_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-2 functional-dependency discovery (operators/profile.py:
    fd_discovery_composite — VERDICT r7 item 7, the TANE level-wise
    step): candidates ``{a,b} → c`` are tested ONLY when both
    single-column parents fail (implied dependencies are pruned before
    any level-2 aggregation runs — lattice control is driver-side over
    k·(k-1) booleans, the distributed work is one combos-relation
    aggregation per surviving candidate).  The planted ``slot`` column
    (status || '#' || priority) makes ``st+pr → slot`` a TRUE minimal
    composite dependency — neither st nor pr alone determines slot —
    while slot's own single-column FDs (slot → st, slot → pr) prune
    every composite that contains slot on the left with st/pr on the
    right, so the oracle checks the pruning rule as much as the
    verdicts."""
    from big_data_validator_spark.operators.profile import (
        fd_discovery_composite,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("st"),
        F.col("o_orderpriority").alias("pr"),
        F.year("o_orderdate").cast("string").alias("yr"),
        F.concat_ws("#", "o_orderstatus", "o_orderpriority").alias(
            "slot"
        ),
    )
    return fd_discovery_composite(o, ["st", "pr", "yr", "slot"])


@query(
    "rule_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS group_size,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT)
               AS sensitive_diversity
      FROM customer GROUP BY 1, 2)
    SELECT c_nationkey, bal_band, group_size, sensitive_diversity,
           array_to_string(list_sort(
             list_filter([
               CASE WHEN group_size < 10 THEN 'k_anonymity' END,
               CASE WHEN sensitive_diversity < 3 THEN 'l_diversity' END
             ], x -> x IS NOT NULL)), ',') AS violations
    FROM g
    WHERE group_size < 10 OR sensitive_diversity < 3
    """,
)
def rule_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit before a data release (operators/curation.py:
    k_anonymity_violations): customer quasi-identifier groups
    (nationkey × account-balance band) smaller than k=10 are
    re-identification risks; k-anonymous groups whose market segment
    takes fewer than l=3 distinct values still leak the attribute
    (l-diversity).  One aggregation pass, shuffle carries per-group
    partial states only; output is exactly the groups a releasing
    pipeline must suppress or generalize.  The violations array is
    emitted as a sorted comma-joined string for cross-engine hashing."""
    from big_data_validator_spark.operators.curation import (
        k_anonymity_violations,
    )

    c = _t(spark, sf_dir, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 2000).cast("long")
    )
    out = k_anonymity_violations(
        c,
        quasi_cols=["c_nationkey", "bal_band"],
        k=10,
        sensitive_col="c_mktsegment",
        l=3,
    )
    return out.select(
        "c_nationkey",
        "bal_band",
        "group_size",
        "sensitive_diversity",
        F.array_join("violations", ",").alias("violations"),
    )


def _bpe_learn_oracle_sql(num_merges: int = 8) -> str:
    """GENERATE the unrolled BPE-LEARNING oracle: ``num_merges`` stages
    of (pair-count → argmax → merge-everywhere), each CTE MATERIALIZED —
    without the hint DuckDB inlines every reference and the 3 scalar
    subqueries per stage expand the prefix 3^k times (the first attempt
    died on file handles before it died of arithmetic)."""
    parts = ["""
    WITH toks AS MATERIALIZED (
      SELECT unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS w
      FROM documents),
    w0 AS MATERIALIZED (
      SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS s,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1)"""]
    for i in range(num_merges):
        parts.append(f"""
    p{i} AS MATERIALIZED (
      SELECT pr[1] AS a, pr[2] AS b, SUM(cnt) AS n
      FROM (SELECT unnest(list_zip(sy, sy[2:])) AS pr, cnt
            FROM (SELECT string_split(trim(s, '|'), '||') AS sy, cnt
                  FROM w{i}))
      WHERE pr[2] IS NOT NULL
      GROUP BY 1, 2),
    m{i} AS MATERIALIZED (
      SELECT {i} AS rank, a, b, CAST(n AS BIGINT) AS pair_count
      FROM p{i} ORDER BY n DESC, a ASC, b ASC LIMIT 1),
    w{i + 1} AS MATERIALIZED (
      SELECT replace(s,
                     '|' || (SELECT a FROM m{i}) || '||'
                         || (SELECT b FROM m{i}) || '|',
                     '|' || (SELECT a FROM m{i})
                         || (SELECT b FROM m{i}) || '|') AS s, cnt
      FROM w{i})""")
    final = "\n    UNION ALL\n    ".join(
        f"SELECT * FROM m{i}" for i in range(num_merges)
    )
    return ",".join(parts) + "\n    " + final


@query("text_bpe_learn", oracle=_bpe_learn_oracle_sql())
def text_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING on the cluster (operators/text.py:
    bpe_learn_merges — the learn half of the Sennrich loop;
    text_bpe_encode is the apply half): 8 merge rounds over the
    corpus's weighted vocabulary, each round one pair-explode
    aggregation + a one-row argmax collect, ties broken
    count-desc/pair-lexicographic so the result is deterministic in
    any engine.  The oracle replays the loop UNROLLED (8 materialized
    CTE stages of count→argmax→replace) — the two engines run the
    identical algorithm on the identical representation, so the learned
    table matches bit-for-bit.  Scale: corpus reduces to distinct
    (word, count) FIRST; iteration cost is vocabulary-bounded, never
    corpus-bounded."""
    from big_data_validator_spark.operators.text import (
        bpe_learn_merges,
        word_tokens,
    )

    d = _t(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(word_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    merges = bpe_learn_merges(wc, num_merges=8)
    return spark.createDataFrame(
        merges, "rank int, a string, b string, pair_count long"
    )


def _bpe_oracle_sql() -> str:
    from big_data_validator_spark.operators.text import (
        bpe_oracle_sql_expr,
        bpe_vocab,
    )

    ids = ", ".join(f"('{t}', {i})" for t, i in bpe_vocab().items())
    return f"""
    WITH words AS (
      SELECT unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS w
      FROM documents),
    toks AS (SELECT unnest({bpe_oracle_sql_expr('w')}) AS token
             FROM words),
    hist AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
             FROM toks GROUP BY 1),
    vocab(token, token_id) AS (VALUES {ids})
    SELECT h.token, v.token_id, h.n_occurrences
    FROM hist h JOIN vocab v USING (token)
    """


@query("text_bpe_encode", oracle=_bpe_oracle_sql())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-pair encoding of the corpus (operators/text.py:
    bpe_encode_tokens): every word token segmented by the rank-ordered
    merge table into BPE symbols, mapped to deterministic token ids,
    and histogrammed — the actual token-cost / packing input an LLM
    pipeline needs (a pre-token count is only a lower bound;
    VERDICT r5 #3).  The merge loop is a pure Catalyst replace-
    expression chain (codegen, no Python) and the DuckDB oracle is
    GENERATED from the same merge table, so both engines run the
    identical algorithm.  Scale shape: words aggregate to DISTINCT
    (word, count) first — encoding cost is bounded by vocabulary, not
    corpus size — then one explode + token aggregation; token ids come
    from a literal map, zero joins on the Spark side."""
    from big_data_validator_spark.operators.text import (
        bpe_encode_tokens,
        bpe_vocab,
        word_tokens,
    )

    d = _t(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(word_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    toks = wc.select(
        F.explode(bpe_encode_tokens(F.col("w"))).alias("token"), "_n"
    )
    vocab = bpe_vocab()
    id_map = F.create_map(
        *[F.lit(x) for kv in vocab.items() for x in kv]
    )
    return (
        toks.groupBy("token")
        .agg(F.sum("_n").cast("long").alias("n_occurrences"))
        .select(
            "token",
            F.element_at(id_map, F.col("token")).alias("token_id"),
            "n_occurrences",
        )
    )


#: (applicationId, sf_dir) → (clicks_dir, purchases_dir): staged file
#: sources for the LEFT OUTER attribution drain.  Staging is input
#: minting, not operator work — reused across calls the way production
#: sources pre-exist their consumers.
_LO_SRC_CACHE: dict[tuple, tuple] = {}


def _lo_attrib_sources(spark: SparkSession, sf_dir: str) -> tuple:
    """Write (once per session+sf) the click/purchase parquet sources
    for the streaming LEFT OUTER drain: one real file per side plus
    three far-future sentinel files whose later micro-batches advance
    the min-watermark past every real join window.  Explicit mtimes
    make the batch order deterministic without sleeping."""
    import os
    import tempfile

    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _LO_SRC_CACHE.get(key)
    if hit and all(os.path.isdir(p) for p in hit):
        return hit

    types = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    bounds = types.agg(F.max("ts").alias("mx")).collect()[0]
    root = tempfile.mkdtemp(prefix="bdv_lo_src_")
    cdir, pdir = f"{root}/clicks", f"{root}/purchases"

    def write_side(path: str, name: str, df: DataFrame, mtime: int) -> None:
        dst = f"{path}/{name}"
        df.coalesce(1).write.parquet(dst)
        for f in os.listdir(dst):
            os.utime(f"{dst}/{f}", (mtime, mtime))

    for side, etype in ((cdir, "click"), (pdir, "purchase")):
        os.makedirs(side)
        real = types.filter(F.col("event_type") == etype).select(
            "user_id", "ts"
        )
        write_side(side, "real", real, 1_000_000)
        for k in range(3):
            sentinel = spark.createDataFrame(
                [(-1,)], "user_id long"
            ).select(
                "user_id",
                (
                    F.lit(bounds["mx"]).cast("timestamp")
                    + F.expr(f"INTERVAL {k + 1} DAYS")
                ).alias("ts"),
            )
            write_side(side, f"sentinel{k}", sentinel, 1_000_010 + k)
    _LO_SRC_CACHE[key] = (cdir, pdir)
    return cdir, pdir


@query(
    "rule_order_totals_reconcile",
    oracle="""
    WITH lc AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (1 - CAST(l_discount AS DECIMAL(8,6)))
                 * (1 + CAST(l_tax AS DECIMAL(8,6)))) AS charge
      FROM lineitem GROUP BY 1),
    j AS (
      SELECT o.o_orderkey,
             CAST(o.o_totalprice AS DECIMAL(18,6)) AS total,
             lc.charge
      FROM orders o LEFT JOIN lc ON o.o_orderkey = lc.l_orderkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN charge IS NOT NULL
                          AND ABS(total - charge) <= 0.01
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_reconciled,
           CAST(SUM(CASE WHEN charge IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_no_lines,
           CAST(MAX(CASE WHEN charge IS NOT NULL
                         THEN ROUND(ABS(total - charge) * 100, 0) END)
                AS BIGINT) AS max_abs_gap_cents
    FROM j
    """,
)
def rule_order_totals_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-TABLE financial reconciliation rule: every order's header
    total against the sum of its line charges
    (Σ extendedprice·(1−discount)·(1+tax)) within a 1-cent tolerance —
    the invoice-vs-lines invariant every financial pipeline audits and
    no single-table rule can express.  All arithmetic runs in EXACT
    DECIMAL (columns cast from double first): float sums differ
    ~1e-9 across engines, enough to flip a cent-quantized verdict on a
    boundary row, while decimal products/sums of cent-exact inputs are
    bit-identical everywhere.  One map-side-combined aggregation per
    order + a key join; orders with no lines report separately (a
    missing-lines order is a different defect than a wrong total)."""
    # Project to the four needed columns, then rebalance: the per-row
    # BigDecimal product chain is compute-bound and inherited the
    # scan's 3 splits (r14 profile: 1.5s of the query's 2.1s ran as a
    # 3-task broadcast side).  At 100 TB the scan is already thousands
    # of splits and the rebalance is a no-op (guide §2).
    li = _rb(
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount", "l_tax"
        )
    )
    o = _t(spark, sf_dir, "orders")
    charge = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(8,6)"))
        * (F.lit(1) + F.col("l_tax").cast("decimal(8,6)"))
    )
    lc = li.groupBy("l_orderkey").agg(F.sum(charge).alias("charge"))
    j = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,6)").alias("total"),
    ).join(lc, o["o_orderkey"] == lc["l_orderkey"], "left")
    gap = F.abs(F.col("total") - F.col("charge"))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(
            (F.col("charge").isNotNull() & (gap <= 0.01)).cast("long")
        )
        .cast("long")
        .alias("n_reconciled"),
        F.sum(F.col("charge").isNull().cast("long"))
        .cast("long")
        .alias("n_no_lines"),
        F.max(
            F.when(
                F.col("charge").isNotNull(), F.round(gap * 100, 0)
            )
        )
        .cast("long")
        .alias("max_abs_gap_cents"),
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH p AS (SELECT user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    u AS (
      SELECT user_id, ts AS t, 0 AS is_r, ts AS p_ts,
             CAST(NULL AS TIMESTAMP) AS rt
      FROM p
      UNION ALL
      SELECT user_id, ts, 1, NULL, ts FROM c),
    w AS (
      SELECT *,
        LAST_VALUE(rt IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, is_r DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_rt,
        FIRST_VALUE(rt IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, is_r DESC
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_rt
      FROM u),
    sel AS (
      SELECT user_id, p_ts,
        CASE WHEN back_rt IS NULL THEN fwd_rt
             WHEN fwd_rt IS NULL THEN back_rt
             WHEN epoch_us(p_ts) - epoch_us(back_rt)
                  <= epoch_us(fwd_rt) - epoch_us(p_ts)
             THEN back_rt ELSE fwd_rt END AS chosen
      FROM w WHERE is_r = 0),
    tol AS (
      SELECT user_id, p_ts,
        CASE WHEN chosen IS NOT NULL
                  AND ABS(epoch_us(chosen) - epoch_us(p_ts))
                      <= 7200000000
             THEN chosen END AS chosen
      FROM sel)
    SELECT user_id,
           strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(chosen, '%Y-%m-%d %H:%M:%S') AS click_ts,
           CAST(epoch_us(chosen) - epoch_us(p_ts) AS BIGINT)
             AS asof_gap_us
    FROM tol
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (operators/relational.py: asof_join_nearest):
    every purchase matched to the CLOSEST click by the same user —
    before or after, ties toward backward, 2-hour tolerance — the
    pandas merge_asof(direction='nearest') surface the backward-only
    as-of can't express (sensor fusion, nearest-touch attribution).
    Union-and-fill with TWO window passes over ONE key shuffle
    (backward last + forward first reuse the same exchange and sort);
    the gap is exact integer microseconds, so the verdict is
    hash-stable where double-epoch arithmetic would flip trailing
    digits."""
    from big_data_validator_spark.operators.relational import (
        asof_join_nearest,
    )

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("ts").alias("click_ts")
    )
    out = asof_join_nearest(
        purchases,
        clicks,
        "user_id",
        "user_id",
        "ts",
        "c_ts",
        ["click_ts"],
        tolerance_seconds=7200,
    )
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "asof_gap_us",
    )


@query(
    "join_asof_forward",
    oracle="""
    WITH p AS (SELECT user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    u AS (
      SELECT user_id, ts AS t, 0 AS is_r, ts AS p_ts,
             CAST(NULL AS TIMESTAMP) AS rt
      FROM p
      UNION ALL
      SELECT user_id, ts, 1, NULL, ts FROM c),
    w AS (
      SELECT *,
        FIRST_VALUE(rt IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, is_r ASC
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_rt
      FROM u),
    tol AS (
      SELECT user_id, p_ts,
        CASE WHEN fwd_rt IS NOT NULL
                  AND epoch_us(fwd_rt) - epoch_us(p_ts) <= 7200000000
             THEN fwd_rt END AS chosen
      FROM w WHERE is_r = 0)
    SELECT user_id,
           strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(chosen, '%Y-%m-%d %H:%M:%S') AS click_ts,
           CAST(epoch_us(chosen) - epoch_us(p_ts) AS BIGINT)
             AS asof_gap_us
    FROM tol
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (operators/relational.py: asof_join_nearest,
    direction='forward'): every purchase matched to the NEXT click by
    the same user at-or-after the purchase (exact-timestamp inclusive,
    gap 0), 2-hour tolerance — the pandas
    merge_asof(direction='forward') surface (post-purchase follow-up
    attribution, next-reading sensor alignment).  Same union-and-fill
    frame as the nearest/backward directions — ONE shuffle on the key,
    one window pass (``first(ignorenulls)`` over the following frame)
    — with the union's secondary sort key flipped so equal-timestamp
    right rows land on the inclusive (forward) side.  The nearest twin
    `join_asof_nearest` rotated to the tail this round; the full
    direction grid is pinned in tests/test_relational.py."""
    from big_data_validator_spark.operators.relational import (
        asof_join_nearest,
    )

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("ts").alias("click_ts")
    )
    out = asof_join_nearest(
        purchases,
        clicks,
        "user_id",
        "user_id",
        "ts",
        "c_ts",
        ["click_ts"],
        tolerance_seconds=7200,
        direction="forward",
    )
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "asof_gap_us",
    )


@query(
    "join_point_in_time",
    oracle="""
    WITH p AS (SELECT user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, value FROM events
          WHERE event_type = 'click' AND value IS NOT NULL),
    u AS (
      SELECT user_id, ts AS t, 0 AS is_r, ts AS p_ts,
             CAST(NULL AS TIMESTAMP) AS rt, CAST(NULL AS DOUBLE) AS v
      FROM p
      UNION ALL
      SELECT user_id, ts, 1, NULL, ts, value FROM c),
    w AS (
      SELECT *,
        LAST_VALUE(rt IGNORE NULLS) OVER win AS brt,
        LAST_VALUE(v IGNORE NULLS) OVER win AS bv
      FROM u
      WINDOW win AS (PARTITION BY user_id ORDER BY t, is_r DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    sel AS (SELECT user_id, p_ts, brt, bv FROM w WHERE is_r = 0),
    tol AS (
      SELECT user_id, p_ts,
        CASE WHEN brt IS NOT NULL
                  AND epoch_us(p_ts) - epoch_us(brt) <= 7200000000
             THEN brt END AS crt,
        CASE WHEN brt IS NOT NULL
                  AND epoch_us(p_ts) - epoch_us(brt) <= 7200000000
             THEN bv END AS cv
      FROM sel)
    SELECT user_id,
           strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           cv AS click_value,
           CAST(epoch_us(p_ts) - epoch_us(crt) AS BIGINT)
             AS feature_age_us
    FROM tol
    """,
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store POINT-IN-TIME-CORRECT join
    (operators/relational.py: point_in_time_join): every purchase picks
    up the latest click-derived feature (the click's value) at-or-before
    the purchase for the same user — never a future one (the
    training-set construction rule that prevents feature leakage /
    training-serving skew) — with a 2-hour feature TTL and the
    feature's age at fact time in exact integer microseconds (the
    staleness distribution a serving monitor watches).  NULL-valued
    feature rows are excluded (a NULL feature is no feature — and it
    keeps the oracle's two aligned IGNORE NULLS windows exact).  One
    shuffle on the key, one keyed window pass — equi-join cost at any
    scale."""
    from big_data_validator_spark.operators.relational import (
        point_in_time_join,
    )

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    clicks = ev.filter(
        (F.col("event_type") == "click") & F.col("value").isNotNull()
    ).select(
        "user_id",
        F.col("ts").alias("c_ts"),
        F.col("value").alias("click_value"),
    )
    out = point_in_time_join(
        purchases,
        clicks,
        key="user_id",
        fact_ts="ts",
        feature_ts="c_ts",
        feature_cols=["click_value"],
        ttl_seconds=7200,
    )
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "click_value",
        "feature_age_us",
    )


@query(
    "sample_hash_split",
    oracle="""
    WITH tagged AS (
      SELECT doc_id,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                          || ':42'), 1, 8) AS UBIGINT)
                  % 1000000 AS BIGINT) AS bucket
      FROM documents),
    split AS (
      SELECT doc_id,
             CASE WHEN bucket < 800000 THEN 0
                  WHEN bucket < 900000 THEN 1
                  ELSE 2 END AS split
      FROM tagged)
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM split GROUP BY 1
    """,
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split
    (operators/sampling.py: hash_split, portable md5 device): splits
    are DISJOINT and COVER the corpus exactly, and because the bucket
    is an engine-portable digest the ORACLE recomputes the exact
    membership — the auditability a leakage claim needs ("prove eval
    doc X is not in train" without trusting the engine that made the
    split).  Zero shuffles: one projection + the summary aggregation;
    the id checksum per split pins membership, not just sizes."""
    from big_data_validator_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    tagged = hash_split(
        docs, "doc_id", [0.8, 0.1, 0.1], seed=42, portable=True
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )


@query(
    "sample_cluster_split",
    oracle="""
    WITH g AS (
      SELECT doc_id, n_chars, md5(text) AS grp FROM documents),
    s AS (
      SELECT doc_id, n_chars, grp,
             CASE WHEN b < 800000 THEN 0
                  WHEN b < 900000 THEN 1
                  ELSE 2 END AS split
      FROM (SELECT *,
              CAST(CAST('0x' || substr(md5(grp || ':42'), 1, 8)
                        AS UBIGINT) % 1000000 AS BIGINT) AS b
            FROM g)),
    sizes AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
             CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
      FROM s GROUP BY 1),
    leak AS (
      SELECT CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS straddling_groups
      FROM (SELECT grp, COUNT(DISTINCT split) AS ns FROM s GROUP BY 1))
    SELECT split, n_rows, n_groups, sum_n_chars, straddling_groups
    FROM sizes, leak
    """,
)
def sample_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-leakage-safe train/val/test split (operators/sampling.py:
    group_leakage_split + split_leakage_audit): documents split 80/10/10
    by their exact-duplicate FAMILY identity (md5 text fingerprint) so
    no duplicate family straddles train and eval — row-keyed splitting
    leaks silently through duplicates (the eval twin of a training doc
    IS test-set contamination), and the shipped ``straddling_groups``
    column is the audited proof it cannot happen here (0 by
    construction, recomputed — not assumed — by both engines).  The
    portable md5 split device means an external auditor re-derives
    every membership.  One projection + two aggregations; nothing
    joins at row grain."""
    from big_data_validator_spark.operators.sampling import (
        group_leakage_split,
        split_leakage_audit,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("grp"),
    )
    tagged = group_leakage_split(
        docs, "grp", [0.8, 0.1, 0.1], seed=42, portable=True
    )
    return split_leakage_audit(
        tagged, "grp", sum_cols=["n_chars"]
    )


@query(
    "profile_join_cardinality",
    oracle="""
    WITH ca AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS na
                FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
    cb AS (SELECT c_custkey AS k, CAST(COUNT(*) AS BIGINT) AS nb
           FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1),
    j AS (SELECT COALESCE(ca.k, cb.k) AS k,
                 COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
          FROM ca FULL OUTER JOIN cb ON ca.k = cb.k),
    agg AS (SELECT
              CAST(SUM(CASE WHEN na > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_keys_a,
              CAST(SUM(CASE WHEN nb > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_keys_b,
              CAST(SUM(CASE WHEN na > 0 AND nb > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared_keys,
              CAST(SUM(na) AS BIGINT) AS rows_a,
              CAST(SUM(nb) AS BIGINT) AS rows_b,
              CAST(SUM(na * nb) AS BIGINT) AS join_rows
            FROM j),
    top AS (SELECT k AS top_key,
                   CAST(na * nb AS BIGINT) AS top_key_fanout
            FROM j ORDER BY na * nb DESC, k DESC LIMIT 1)
    SELECT 'o_custkey' AS key_column, rows_a, rows_b, n_keys_a,
           n_keys_b, n_shared_keys, join_rows, top_key, top_key_fanout,
           ((2000000 * join_rows + GREATEST(rows_a, rows_b))
            // (2 * GREATEST(rows_a, rows_b))) / 1000000.0
             AS amplification
    FROM agg, top
    """,
)
def profile_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality advisor (operators/profile.py:
    join_cardinality_profile): the EXACT orders⋈customer output size
    from per-key counts — Σ cntA·cntB over shared keys — plus the
    heaviest key pair and the output/input amplification, WITHOUT
    running the join.  With profile_key_skew this is the pre-shuffle
    checklist: skew decides salting, this decides whether the fanout
    bill is payable at all.  Two distinct-key shuffles + one tiny
    count-relation join; ratios use exact integer half-up division."""
    from big_data_validator_spark.operators.profile import (
        join_cardinality_profile,
    )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return join_cardinality_profile(o, c, "o_custkey", "c_custkey")


@query(
    "profile_key_skew",
    oracle="""
    WITH counts AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS n
                    FROM lineitem WHERE l_partkey IS NOT NULL
                    GROUP BY 1),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(n) AS BIGINT) AS n_rows,
                   CAST(MAX(n) AS BIGINT) AS max_count,
                   ROUND(STDDEV_SAMP(n) / AVG(n), 6) AS cv,
                   ROUND(quantile_cont(n, 0.5), 4) AS p50_count,
                   ROUND(quantile_cont(n, 0.9), 4) AS p90_count,
                   ROUND(quantile_cont(n, 0.99), 4) AS p99_count
            FROM counts),
    top AS (SELECT k AS top_key FROM counts
            ORDER BY n DESC, k DESC LIMIT 1)
    SELECT 'l_partkey' AS key_column, n_rows, n_keys, max_count, top_key,
           ((2000000 * max_count + n_rows) // (2 * n_rows)) / 1000000.0
             AS max_share,
           ((2000000 * max_count * n_keys + n_rows) // (2 * n_rows))
             / 1000000.0 AS skew_ratio,
           cv, p50_count, p90_count, p99_count
    FROM agg, top
    """,
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-shuffle skew advisor (operators/profile.py:
    key_skew_profile): the per-key count distribution for a
    prospective join/agg key — heaviest key, max share, skew ratio
    (max/mean), CV, and exact count percentiles.  The measurement that
    decides plain shuffle vs AQE skew split vs explicit salting
    (agg_salted_skew_counts is the remedy; this is the diagnosis).
    One distinct-key shuffle + O(keys) statistics; shares/ratios use
    exact integer half-up division, so the verdict is hash-stable."""
    from big_data_validator_spark.operators.profile import (
        key_skew_profile,
    )

    li = _t(spark, sf_dir, "lineitem")
    return key_skew_profile(li, "l_partkey")


@query(
    "events_anomaly_weekday",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1),
    dowed AS (SELECT day, CAST(dayofweek(day) + 1 AS INT) AS dow, n
              FROM daily),
    w AS (SELECT day, dow, n,
                 COUNT(n) OVER win AS k,
                 AVG(n) OVER win AS mean,
                 STDDEV_SAMP(n) OVER win AS std
          FROM dowed
          WINDOW win AS (PARTITION BY dow ORDER BY day
                         ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING))
    SELECT strftime(day, '%Y-%m-%d') AS day, dow, n,
           ROUND(mean, 6) AS baseline_mean,
           ROUND(std, 6) AS baseline_std,
           ROUND(CASE WHEN k >= 2 AND std > 0
                      THEN (n - mean) / std END, 4) AS z_score,
           COALESCE(ABS(CASE WHEN k >= 2 AND std > 0
                             THEN (n - mean) / std END) > 2.0,
                    FALSE) AS is_anomaly
    FROM w
    """,
)
def events_anomaly_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware volume monitor (operators/events_analytics.py:
    weekday_seasonal_anomalies): each day's event count z-scored
    against the trailing 4 SAME-WEEKDAY days — weekly-rhythm feeds
    where the plain rolling z-score fires every weekend or misses a
    broken Sunday batch.  One aggregation to per-day counts; the
    ordered window partitions by weekday over the per-day aggregate
    only (7 × #weeks rows).  Baseline excludes the monitored day."""
    from big_data_validator_spark.operators.events_analytics import (
        weekday_seasonal_anomalies,
    )

    ev = _t(spark, sf_dir, "events")
    return weekday_seasonal_anomalies(ev, "ts", trailing=4, z_threshold=2.0)


@query(
    "corpus_mixture_quality",
    oracle="""
    WITH counts AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
         wts(lang, w) AS (VALUES ('en', 0.4), ('zh', 0.2), ('es', 0.2), ('de', 0.2)),
         tot AS (SELECT FLOOR(MIN(c / w)) AS t FROM counts JOIN wts USING (lang)),
         plan AS (SELECT lang, CAST(FLOOR(w * t) AS BIGINT) AS planned FROM wts, tot),
         ranked AS (
           SELECT doc_id, lang, n_chars,
                  ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY n_chars DESC,
                                              md5(CAST(doc_id AS VARCHAR)),
                                              doc_id) AS rn
           FROM documents
         )
    SELECT r.doc_id, r.lang, r.n_chars
    FROM ranked r JOIN plan p ON r.lang = p.lang
    WHERE r.rn <= p.planned
    """,
)
def corpus_mixture_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked mixture materialization (operators/packing.py:
    apply_mixture_plan with ``quality_col``): each domain's quota
    filled by the BEST documents (here: longest, the classic length
    prior; any score column plugs in) instead of a random draw — the
    shape a curation pipeline actually ships when a quality signal
    exists.  md5 order stays as the deterministic tie-break so equal
    scores never make the subset layout-dependent.  Same plan as the
    random variant: broadcast quota + ONE domain shuffle with
    WindowGroupLimit."""
    docs = _t(spark, sf_dir, "documents")
    out = P.apply_mixture_plan(
        docs,
        "lang",
        {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.2},
        key_col="doc_id",
        quality_col="n_chars",
    )
    return out.select("doc_id", "lang", "n_chars")


@query(
    "profile_mutual_information",
    oracle="""
    WITH joint AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM orders
      WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
      GROUP BY 1, 2),
    cells AS (SELECT n,
                     SUM(n) OVER (PARTITION BY a) AS na,
                     SUM(n) OVER (PARTITION BY b) AS nb,
                     SUM(n) OVER () AS t
              FROM joint),
    agg AS (SELECT SUM(-(n/t) * log2(na/t)) AS ha,
                   SUM(-(n/t) * log2(nb/t)) AS hb,
                   SUM(-(n/t) * log2(n/t)) AS hab,
                   CAST(MAX(t) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_cells
            FROM cells)
    SELECT 'o_orderpriority' AS col_a, 'o_orderstatus' AS col_b,
           n_rows, n_cells,
           ROUND(ha, 6) AS h_a_bits, ROUND(hb, 6) AS h_b_bits,
           ROUND(hab, 6) AS h_joint_bits,
           ROUND(ha + hb - hab, 6) + 0.0 AS mi_bits,
           ROUND(CASE WHEN ha > 0 THEN (ha + hb - hab) / ha END, 6)
             + 0.0 AS u_a_given_b,
           ROUND(CASE WHEN hb > 0 THEN (ha + hb - hab) / hb END, 6)
             + 0.0 AS u_b_given_a
    FROM agg
    """,
)
def profile_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-theoretic dependency profile (operators/profile.py:
    mutual_information_profile): entropies, mutual information, and
    uncertainty coefficients between order priority and status — the
    GRADED complement of the hard FD rule (U == 1 is a functional
    dependency; anything between quantifies "almost determines").  One
    joint-count aggregation scans the corpus once; marginals derive
    from the k contingency cells via window sums, so cost after the
    scan is O(cells).  ``+ 0.0`` on the near-zero terms folds -0.0 to
    0.0 on both engines (independent columns give MI ≈ ±1e-16 before
    rounding — the sign of a zero must not flip the hash)."""
    from big_data_validator_spark.operators.profile import (
        mutual_information_profile,
    )

    o = _t(spark, sf_dir, "orders")
    out = mutual_information_profile(o, "o_orderpriority", "o_orderstatus")
    return out.select(
        "col_a", "col_b", "n_rows", "n_cells",
        "h_a_bits", "h_b_bits", "h_joint_bits",
        (F.col("mi_bits") + 0.0).alias("mi_bits"),
        (F.col("u_a_given_b") + 0.0).alias("u_a_given_b"),
        (F.col("u_b_given_a") + 0.0).alias("u_b_given_a"),
    )


def _bpe_pack_oracle_sql() -> str:
    from big_data_validator_spark.operators.text import bpe_oracle_sql_expr

    return f"""
    WITH words AS (
      SELECT doc_id, unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS w
      FROM documents),
    tok AS (SELECT doc_id,
                   CAST(SUM(len({bpe_oracle_sql_expr('w')})) AS BIGINT)
                     AS n_bpe_tokens
            FROM words GROUP BY doc_id),
    alldocs AS (SELECT d.doc_id,
                       COALESCE(t.n_bpe_tokens, 0) AS n_bpe_tokens
                FROM documents d LEFT JOIN tok t USING (doc_id)),
    offs AS (SELECT doc_id, n_bpe_tokens,
                    CAST(COALESCE(SUM(n_bpe_tokens) OVER (
                      ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), 0) AS BIGINT) AS "offset"
             FROM alldocs)
    SELECT doc_id, n_bpe_tokens, "offset",
           CAST("offset" // 512 AS BIGINT) AS seq_id,
           CAST("offset" % 512 AS BIGINT) AS seq_pos,
           CAST(CASE WHEN n_bpe_tokens <= 0 THEN 0
                     ELSE ("offset" + n_bpe_tokens - 1) // 512
                          - "offset" // 512 + 1 END AS BIGINT) AS n_seqs
    FROM offs
    """


@query("pipeline_bpe_pack", oracle=_bpe_pack_oracle_sql())
def pipeline_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-EXACT sequence packing: every document's REAL BPE token
    count (operators/text.py: bpe_encode_tokens applied per word inside
    an array ``transform`` + ``aggregate`` — the whole tokenizer is one
    codegen projection, ZERO shuffles) feeding concatenate-and-cut
    packing at 512 tokens (operators/packing.py on ``block_scan``).
    This closes the LLM-cost loop: pack_sequences_docs packs by
    character proxy; this packs by what the training run actually pays.
    Tradeoff documented: encoding per word OCCURRENCE keeps the count
    shuffle-free (~20 string replaces per word, pure CPU in the scan);
    the alternative distinct-word join (text_bpe_encode's shape)
    bounds encode cost by vocabulary at the price of a (doc, word)
    shuffle — at 100 TB prefer the shuffle-free scan unless words are
    pathologically long."""
    from big_data_validator_spark.operators.text import (
        bpe_encode_tokens,
        word_tokens,
    )

    d = _t(spark, sf_dir, "documents")
    n_tok = F.aggregate(
        F.transform(
            word_tokens(F.col("text")),
            lambda w: F.size(bpe_encode_tokens(w)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    # block_scan reads its input twice (block totals +
    # block-local windows), so the tokenizer expression evaluates
    # twice.  Measured at sf0.1: recompute beats persist-and-release
    # (the release path pays a driver collect/recreate of the packed
    # frame that exceeds the second tokenize).  At 100 TB persist the
    # (doc_id, count) relation — 16 B/doc — for the job's lifetime
    # instead; the crossover is where tokenize cost passes cache cost.
    docs = d.select("doc_id", n_tok.alias("n_bpe_tokens"))
    packed = P.pack_sequences(
        docs, "n_bpe_tokens", "doc_id", seq_len=512, block_rows=128
    )
    return packed.select(
        "doc_id", "n_bpe_tokens", "offset", "seq_id", "seq_pos", "n_seqs"
    )


@query(
    "ts_resample_ffill",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n, SUM(value) AS v
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2),
    b AS (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
          FROM daily GROUP BY 1),
    spine AS (SELECT user_id,
                     CAST(unnest(generate_series(
                       CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP),
                       INTERVAL 1 DAY)) AS DATE) AS day
              FROM b),
    j AS (SELECT s.user_id, s.day, d.n, d.v
          FROM spine s LEFT JOIN daily d
            ON d.user_id = s.user_id AND d.day = s.day)
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           COALESCE(n, 0) AS n_events,
           ROUND(v, 4) AS day_value,
           ROUND(LAST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 4) AS filled_value,
           n IS NULL AS is_gap
    FROM j
    """,
)
def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily resample of the events feed with forward fill
    (operators/timeseries.py: resample_ffill_daily) — gap days become
    explicit rows carrying the last observed daily value, the
    regularization every windowed monitor/model needs.  Spine rows
    generate ROW-LOCALLY from per-key bounds (``sequence``+``explode``
    — no calendar cross join); one daily-aggregate shuffle, one
    co-partitioned spine join, and a per-key running ``last(ignore
    nulls)`` window — nothing global, so a 10-year × 10^8-key feed
    parallelizes on the key."""
    from big_data_validator_spark.operators.timeseries import (
        resample_ffill_daily,
    )

    ev = _t(spark, sf_dir, "events")  # ts already normalized by _t
    out = resample_ffill_daily(ev, "user_id", "ts", "value")
    return out.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.round("day_value", 4).alias("day_value"),
        F.round("filled_value", 4).alias("filled_value"),
        "is_gap",
    )


@query(
    "streaming_attribution_left",
    oracle="""
    WITH p AS (SELECT user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    j AS (SELECT p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
          FROM p LEFT JOIN c
            ON c.user_id = p.user_id
           AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN click_ts IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unattributed,
           CAST(COUNT(DISTINCT CASE WHEN click_ts IS NOT NULL
                                    THEN purchase_ts END)
                AS BIGINT) AS n_attributed_purchases,
           strftime(MIN(purchase_ts), '%Y-%m-%d %H:%M:%S')
             AS first_purchase
    FROM j GROUP BY 1
    """,
)
def streaming_attribution_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join end-to-end
    (streaming/validate_stream.py: stream_stream_attribution_left):
    every purchase with its attributing clicks, or a NULL click once
    the watermark proves none can arrive — the attribution-LOSS shape
    (VERDICT r5 #4).  Unlike the inner join, null-extensions emit only
    after the watermark passes a purchase's join window, so the drain
    appends three sentinel micro-batches (far-future rows on BOTH
    sides, filtered at read-back) to advance the min-watermark past
    every real window — in production the stream simply keeps flowing.
    Real rows load in ONE micro-batch per side (single file +
    maxFilesPerTrigger) so the 1-second lateness horizon drops
    nothing; mtimes are set explicitly so batch order never depends on
    write timing.  The drained sink then rolls up per user and must
    hash-match DuckDB's batch LEFT JOIN.  State stays bounded by
    watermark + attribution window per side — the property that makes
    the shape viable at 100 TB/day.

    Bench shape: source staging (the click/purchase files + sentinels)
    is INPUT data, not operator work — it is minted once per
    (session, sf_dir) and reused, exactly as production sources
    pre-exist their consumers; the streaming query itself (state
    stores, join, sink) runs fully every call.  The drain uses the
    harness's ``availableNow`` trigger like every other entry:
    ``maxFilesPerTrigger`` still feeds one file per side per
    micro-batch, and the answer equals the oracle's at sf0.001 and
    sf0.01."""
    from big_data_validator_spark.streaming.validate_stream import (
        stream_stream_attribution_left,
    )

    cdir, pdir = _lo_attrib_sources(spark, sf_dir)

    def writer(d: _Drain):
        pairs = stream_stream_attribution_left(
            _ordered_stream(spark, pdir, "real"),
            _ordered_stream(spark, cdir, "real"),
            "user_id", "ts", 1800,
            watermark="1 second",
        )
        return _memory_sink(pairs, "append")

    return _bounded_drain(
        spark,
        "streaming_attribution_left",
        writer,
        lambda d: spark.table(d.table)
        .filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("click_ts").isNull().cast("long"))
            .cast("long")
            .alias("n_unattributed"),
            F.count_distinct(
                F.when(F.col("click_ts").isNotNull(), F.col("purchase_ts"))
            )
            .cast("long")
            .alias("n_attributed_purchases"),
            F.date_format(F.min("purchase_ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_purchase"
            ),
        ),
    )


def _metrics_stream_source(spark: SparkSession, sf_dir: str) -> str:
    """The 4-run streaming source for the metrics-repository drain: run
    ``r`` holds events with ``least(user_id % 12, 3) == r`` — three
    ~equal small runs then a ~9× volume spike the trend rule must
    flag."""

    def runs() -> list:
        ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
        run = F.least(F.col("user_id") % 12, F.lit(3))
        return [ev.filter(run == r) for r in range(4)]

    return _staged_runs(spark, sf_dir, "metrics", runs)


def _stream_metrics_oracle_sql() -> str:
    """DuckDB mirror of the STREAMING metrics repository + trend rule:
    re-derive each micro-batch's membership relationally (run r =
    events with least(user_id % 12, 3) == r), profile per run, then the
    identical trailing-3 trend window as the batch twin
    (:func:`_trend_oracle_sql`)."""
    metric = {
        "null_count_u": "SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)",
        "distinct_count_u": "COUNT(DISTINCT user_id)",
        "min_u": "MIN(user_id)",
        "max_u": "MAX(user_id)",
        "null_count_t": "SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)",
        "distinct_count_t": "COUNT(DISTINCT event_type)",
        "min_length_t": "MIN(len(event_type))",
        "max_length_t": "MAX(len(event_type))",
    }
    legs = []
    for m, expr in metric.items():
        col = "user_id" if m.endswith("_u") else "event_type"
        name = m[:-2]
        legs.append(
            f"SELECT run_id, '{col}' AS \"column\", '{name}' AS metric,"
            f" CAST({expr} AS DOUBLE) AS value FROM src GROUP BY run_id"
        )
    # row_count replicates per profiled column (profile_table contract)
    for col in ("user_id", "event_type"):
        legs.append(
            f"SELECT run_id, '{col}' AS \"column\","
            " 'row_count' AS metric, CAST(COUNT(*) AS DOUBLE) AS value"
            " FROM src GROUP BY run_id"
        )
    union = "\n      UNION ALL\n      ".join(legs)
    return f"""
    WITH src AS (
      SELECT LEAST(user_id % 12, 3) AS run_id, user_id, event_type
      FROM events
    ),
    m AS ({union}),
    w AS (SELECT run_id, "column", metric, value,
            COUNT(value) OVER win AS n_prev,
            AVG(value) OVER win AS mean,
            STDDEV_SAMP(value) OVER win AS std
          FROM m
          WINDOW win AS (PARTITION BY "column", metric ORDER BY run_id
                         ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))
    SELECT run_id, "column", metric, value,
           ROUND(mean, 6) AS trailing_mean,
           ROUND(std, 6) AS trailing_std,
           ROUND(CASE WHEN n_prev >= 2 AND std > 0
                      THEN (value - mean) / std END, 4) AS z_score,
           COALESCE(ABS(CASE WHEN n_prev >= 2 AND std > 0
                             THEN (value - mean) / std END) > 3.0,
                    FALSE) AS is_anomaly
    FROM w
    """


_FRAG_SRC_CACHE: dict[tuple, str] = {}


def _frag_layout_source(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per session+sf) a deliberately FRAGMENTED copy of
    lineitem — one parquet file per ``l_orderkey % 16`` partition dir
    (``repartition`` on the partition value guarantees one task, hence
    one file, per value) — the small-file mess a streaming sink leaves
    behind and the compaction planner's input."""
    import os
    import tempfile

    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _FRAG_SRC_CACHE.get(key)
    if hit and os.path.isdir(hit):
        return hit
    root = tempfile.mkdtemp(prefix="bdv_frag_src_")
    dst = f"{root}/lineitem_frag"
    (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .withColumn("frag", F.col("l_orderkey") % 16)
        .repartition(16, "frag")
        .write.partitionBy("frag")
        .parquet(dst)
    )
    _FRAG_SRC_CACHE[key] = dst
    return dst


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
    from big_data_validator_spark.operators.maintenance import (
        compaction_manifest,
    )

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


#: Run assignment for the streaming drift monitor: two uniform samples
#: (calm baseline traffic), then the remaining rows split BY VALUE —
#: run 2 high-only, run 3 low-only — the regime shift the monitor must
#: flag.  SQL-expressible so the oracle re-derives batch membership.
_DRIFT_RUN_CASE = (
    "CASE WHEN user_id % 12 = 0 THEN 0 "
    "WHEN user_id % 12 = 1 THEN 1 "
    "WHEN value > 50 THEN 2 ELSE 3 END"
)


def _drift_stream_source(spark: SparkSession, sf_dir: str) -> str:
    """The 4-run streaming source for the drift drains: runs 0/1 are
    uniform user-hash samples (PSI ≈ 0), runs 2/3 carry only the high /
    only the low half of the value range (PSI large)."""

    def runs() -> list:
        ev = _t(spark, sf_dir, "events").select("user_id", "value")
        return [ev.filter(F.expr(_DRIFT_RUN_CASE) == r) for r in range(4)]

    return _staged_runs(spark, sf_dir, "drift", runs)


@query(
    "streaming_drift_psi",
    oracle=f"""
    WITH src AS (
      SELECT {_DRIFT_RUN_CASE} AS run_id, value FROM events
    ),
    bins(bin_id) AS (VALUES (0), (1), (2), (3), (4)),
    runs(run_id) AS (VALUES (0), (1), (2), (3)),
    binned AS (
      SELECT run_id,
             CASE WHEN value >= 100 THEN 4
                  WHEN value >= 75 THEN 3
                  WHEN value >= 50 THEN 2
                  WHEN value >= 25 THEN 1
                  ELSE 0 END AS bin_id
      FROM src),
    base AS (
      SELECT bin_id,
             COUNT(*) / CAST((SELECT COUNT(*) FROM binned) AS DOUBLE)
               AS p_base
      FROM binned GROUP BY 1),
    per_run AS (
      SELECT run_id, bin_id, COUNT(*) AS n FROM binned GROUP BY 1, 2),
    totals AS (SELECT run_id, SUM(n) AS t FROM per_run GROUP BY 1),
    grid AS (SELECT runs.run_id, bins.bin_id FROM runs, bins)
    SELECT CAST(grid.run_id AS BIGINT) AS run_id, grid.bin_id,
           ROUND(COALESCE(base.p_base, 0), 6) AS p_base,
           ROUND(COALESCE(per_run.n / CAST(totals.t AS DOUBLE), 0), 6)
             AS p_run,
           ROUND((COALESCE(per_run.n / CAST(totals.t AS DOUBLE), 0)
                  - COALESCE(base.p_base, 0))
                 * ln((COALESCE(per_run.n / CAST(totals.t AS DOUBLE), 0)
                       + 1e-6)
                      / (COALESCE(base.p_base, 0) + 1e-6)), 6)
             AS psi_term
    FROM grid
    LEFT JOIN base ON base.bin_id = grid.bin_id
    LEFT JOIN per_run ON per_run.run_id = grid.run_id
                     AND per_run.bin_id = grid.bin_id
    LEFT JOIN totals ON totals.run_id = grid.run_id
    """,
)
def streaming_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PSI drift monitor, oracle-checked end-to-end
    (streaming/validate_stream.py: stream_drift_psi): live micro-batch
    traffic scored against a static baseline distribution (the
    training distribution) over explicit value bins, per-bin PSI terms
    appended under the exactly-once batch-id commit protocol with
    batch_id == run_id.  Runs 0/1 are uniform samples (calm, PSI ≈ 0);
    runs 2/3 carry only the high / only the low half of the value
    range — the regime shift a serving-side monitor exists to catch
    (their psi_terms are large).  The baseline histogram folds into the
    per-batch plan as literals (bounded driver work: one row per bin);
    each micro-batch is one pass."""
    from big_data_validator_spark.streaming.validate_stream import (
        read_metrics_repository,
        stream_drift_psi,
    )

    src = _drift_stream_source(spark, sf_dir)
    baseline = _t(spark, sf_dir, "events").select("value")
    return _bounded_drain(
        spark,
        "streaming_drift_psi",
        lambda d: stream_drift_psi(
            _ordered_stream(spark, src),
            baseline,
            value_col="value",
            bin_edges=[25.0, 50.0, 75.0, 100.0],
            repo_path=f"{d.root}/repo",
            checkpoint_path=d.checkpoint,
        ),
        lambda d: read_metrics_repository(spark, f"{d.root}/repo").select(
            "run_id",
            "bin_id",
            F.round("p_base", 6).alias("p_base"),
            F.round("p_run", 6).alias("p_run"),
            F.round("psi_term", 6).alias("psi_term"),
        ),
    )


@query("streaming_metrics_trend", oracle=_stream_metrics_oracle_sql())
def streaming_metrics_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING metrics repository + trend rule, oracle-checked
    end-to-end (streaming/validate_stream.py:
    stream_metrics_repository — VERDICT r6 item 2, the streaming Deequ
    shape): a real ``readStream`` over 4 mtime-ordered file groups,
    ``maxFilesPerTrigger=1`` so batch_id == run_id, each micro-batch
    profiled in one pass inside ``foreachBatch`` and appended to a
    parquet repository under the exactly-once batch-id commit protocol;
    after the drain the repository feeds profile_trend_anomalies, which
    flags run 3's ~9× volume spike against its trailing-3 baseline.
    Only integer-valued metrics are monitored so history values are
    engine-exact.  Scale: profiles aggregate map-side inside each
    micro-batch; the repository and the trend window hold one row per
    (run, column, metric) — unbounded streams stay bounded state."""
    from big_data_validator_spark.operators.profile import (
        profile_trend_anomalies,
    )
    from big_data_validator_spark.streaming.validate_stream import (
        read_metrics_repository,
        stream_metrics_repository,
    )

    src = _metrics_stream_source(spark, sf_dir)
    keep = [
        "row_count", "null_count", "distinct_count",
        "min", "max", "min_length", "max_length",
    ]
    return _bounded_drain(
        spark,
        "streaming_metrics_trend",
        lambda d: stream_metrics_repository(
            _ordered_stream(spark, src),
            repo_path=f"{d.root}/repo",
            checkpoint_path=d.checkpoint,
            columns=["user_id", "event_type"],
        ),
        lambda d: profile_trend_anomalies(
            read_metrics_repository(spark, f"{d.root}/repo").filter(
                F.col("metric").isin(keep)
            ),
            trailing=3,
            z_threshold=3.0,
        ),
    )


@query(
    "dedup_ssjoin_prefix",
    oracle="""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> w <> '') AS w
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(w) - 1),
                              i -> w[i] || '_' || w[i+1] || '_' || w[i+2])
             )) AS token
      FROM ws WHERE len(w) >= 3
    ), sz AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS m FROM tok GROUP BY 1
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS inter
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter, sa.m AS size_a, sb.m AS size_b,
           CAST((1000000 * inter) // (sa.m + sb.m - inter) AS BIGINT)
             AS jacc_e6
    FROM common
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE 1000000 * inter >= 500000 * (sa.m + sb.m - inter)
    ORDER BY id_a, id_b
    """,
)
def dedup_ssjoin_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join with PPJoin-style prefix
    filtering (operators/dedup.py:set_similarity_join) — the scale
    path for exact Jaccard dedup that the bounded inverted-index demo
    (dedup_ngram_jaccard) could not be: candidate pairs come ONLY from
    shared prefix tokens (each document's rarest ``m-⌈t·m⌉+1`` tokens
    under a global ascending-document-frequency order), with length
    and positional pruning inside the join condition, then an exact
    integer verification join.  The ORACLE is the all-pairs exact
    Jaccard join over the same word-3-gram shingle sets — a driver
    hash match proves the prefix filter is LOSSLESS, not just fast.
    All-BIGINT outputs (``jacc_e6`` is an exact integer floor
    division), per the repo's hash discipline.

    Reference parity anchor: the reference's dedup surface is
    row-level (bigDataValidator validates row shapes, never
    similarity); this is a north-star LLM-pipeline operator.
    """
    docs = _t(spark, sf_dir, "documents")
    res = D.set_similarity_join(
        docs,
        text_col="text",
        id_col="doc_id",
        n_words=3,
        threshold_e6=500_000,
    )
    out = res.orderBy("id_a", "id_b")
    out._bdv_pinned = D.pinned_caches(res)
    return D.materialize_release(out)


@query(
    "agg_incremental_join_mv",
    oracle="""
    WITH inc_orders AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000
             + CASE WHEN o_orderkey % 5 = 0 THEN 10500000 ELSE 0 END
               AS value_micro
      FROM orders WHERE o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000
      FROM orders WHERE o_orderkey % 13 = 0),
    inc_cust AS (
      SELECT c_custkey,
             CAST(CASE WHEN c_custkey % 11 = 0
                       THEN (c_nationkey + 1) % 25
                       ELSE c_nationkey END AS BIGINT) AS c_nationkey
      FROM customer)
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(value_micro) AS BIGINT) AS total_micro
    FROM inc_orders JOIN inc_cust ON o_custkey = c_custkey
    GROUP BY 1 ORDER BY 1
    """,
)
def agg_incremental_join_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN-aggregate view (operators/
    cdc.py:delta_join_view_rows) — the bilinear extension beyond the
    single-table IVM twins: the maintained view is per-nation order
    revenue, ``orders ⋈ customer GROUP BY c_nationkey``, and BOTH base
    tables change (orders: %%7 deletes / %%5 price updates / %%13
    inserts; customer: every %%11 customer MOVES to the next nation —
    the payload-change case that re-routes every one of that
    customer's old orders between groups).  The signed join delta
    ``Δ(A⋈B) = ΔA⋈B_new ∪ A_old⋈ΔB`` feeds the same
    apply_delta_to_group_totals as the single-table twin; neither base
    join nor base aggregate is recomputed.  The ORACLE is the full
    recompute over both new snapshots — the driver check IS
    incremental-equals-recompute under simultaneous fact and dimension
    churn.  BIGINT micro-units end-to-end (hash discipline).
    """
    from big_data_validator_spark.operators.cdc import (
        apply_delta_to_group_totals,
        changeset_delta_rows,
        delta_join_view_rows,
    )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    k = F.col("o_orderkey")
    micro = F.round(F.col("o_totalprice") * 100).cast("long") * 10000
    cur_orders = o.select(
        "o_orderkey", "o_custkey", micro.alias("value_micro")
    )
    inc_orders = (
        o.filter(k % 7 != 0)
        .select(
            "o_orderkey",
            "o_custkey",
            (
                micro
                + F.when(k % 5 == 0, F.lit(10_500_000)).otherwise(F.lit(0))
            ).alias("value_micro"),
        )
        .unionByName(
            o.filter(k % 13 == 0).select(
                (k + 100000000).alias("o_orderkey"),
                "o_custkey",
                micro.alias("value_micro"),
            )
        )
    )
    nat = F.col("c_nationkey").cast("long")
    cur_cust = c.select("c_custkey", nat.alias("c_nationkey"))
    inc_cust = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 11 == 0, (nat + 1) % 25)
        .otherwise(nat)
        .alias("c_nationkey"),
    )
    # The stored view: join-aggregate of the OLD snapshots.
    summary = (
        cur_orders.join(
            F.broadcast(cur_cust),
            cur_orders["o_custkey"] == cur_cust["c_custkey"],
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("value_micro").alias("value_micro"),
        )
    )
    delta_o = changeset_delta_rows(
        cur_orders, inc_orders, ["o_orderkey"], ["o_custkey", "value_micro"]
    )
    delta_c = changeset_delta_rows(
        cur_cust, inc_cust, ["c_custkey"], ["c_nationkey"]
    )
    joined_delta = delta_join_view_rows(
        a_old=cur_orders.select("o_orderkey", "o_custkey", "value_micro"),
        delta_a=delta_o,
        b_new=F.broadcast(inc_cust),
        delta_b=delta_c,
        left_key="o_custkey",
        right_key="c_custkey",
    )
    view = apply_delta_to_group_totals(
        summary,
        joined_delta,
        group_cols=["c_nationkey"],
        sum_cols=["value_micro"],
        count_col="n_rows",
    )
    return view.select(
        "c_nationkey",
        "n_rows",
        F.col("value_micro").cast("long").alias("total_micro"),
    ).orderBy("c_nationkey")


@query(
    "ts_rollup_cascade",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS val_cents
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ts_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate cascade refresh (operators/timeseries.py:
    cascade_rollup_refresh — the hypertable-rollup shape): stored
    hourly and daily rollups of the event stream are STALE (built
    before every late row — ``event_id %% 5 == 0`` arriving after
    Jan 25 — existed); the refresh recomputes only the late rows'
    dirty ``(hour, event_type)`` buckets from the base (LEFT SEMI),
    passes every untouched bucket through (LEFT ANTI), and maintains
    the daily layer FROM the refreshed hourly layer, so the raw table
    is touched once regardless of how many rollup resolutions stack.
    The ORACLE is the full daily recompute over the complete event
    stream — the driver check pins refresh == recompute, which only
    holds if dirty-bucket propagation across BOTH cascade levels is
    exact.  Cent-integer values, BIGINT end-to-end.
    """
    from big_data_validator_spark.operators.timeseries import (
        cascade_rollup_refresh,
    )

    raw = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long").alias("val_cents")
    late_cond = (F.col("event_id") % 5 == 0) & (
        F.col("ts") >= F.lit("2024-01-25").cast("timestamp")
    )
    ev = raw.select("ts", "event_type", cents)
    late = raw.filter(late_cond).select("ts", "event_type", cents)
    base_old = raw.filter(~late_cond).select("ts", "event_type", cents)
    hour_of = F.date_trunc("hour", F.col("ts")).alias("hour")
    hourly_old = (
        base_old.select(hour_of, "event_type", "val_cents")
        .groupBy("hour", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("val_cents").cast("long").alias("val_cents"),
        )
    )
    daily_old = (
        hourly_old.select(
            F.date_trunc("day", F.col("hour")).alias("day"),
            "event_type",
            "n_rows",
            "val_cents",
        )
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("val_cents").cast("long").alias("val_cents"),
        )
    )
    # The stored rollups are small (hours × types); caching them keeps
    # this simulation of "stored MV" at one base scan per layer and the
    # anti/semi legs co-consistent.  Released below with the operator's
    # own pinned dirty relations after materialization.
    hourly_old = hourly_old.cache()
    daily_old = daily_old.cache()
    _, daily_new = cascade_rollup_refresh(
        base_new=ev,
        hourly_old=hourly_old,
        daily_old=daily_old,
        late=late,
        ts_col="ts",
        key_cols=["event_type"],
        sum_cols=["val_cents"],
        count_col="n_rows",
    )
    out = daily_new.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_rows",
        "val_cents",
    ).orderBy("day", "event_type")
    out._bdv_pinned = D.pinned_caches(daily_new) + [hourly_old, daily_old]
    return D.materialize_release(out)


@query(
    "topk_pareto_frontier",
    oracle="""
    WITH pts AS (
      SELECT p_partkey,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS p_size
      FROM part)
    SELECT p_partkey, price_cents, p_size
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.price_cents <= p.price_cents AND q.p_size >= p.p_size
        AND (q.price_cents < p.price_cents OR q.p_size > p.p_size))
    ORDER BY p_partkey
    """,
)
def topk_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier / skyline (operators/relational.py:
    pareto_frontier_2d): the parts no other part dominates on
    (cheaper-or-equal price, bigger-or-equal size, one strict) — the
    multi-objective generalization of top-k that a single ORDER BY
    cannot express.  The Spark plan is the windowed formulation
    (running max gain over strictly-cheaper rows via an integer RANGE
    frame, plus same-cost max) behind a hash-bucketed LOCAL prefilter,
    so the global sort only ever sees Σ per-bucket frontiers; the
    ORACLE is the INDEPENDENT ``NOT EXISTS`` dominance formulation —
    two different algorithms agreeing on the exact row set.  Integer
    cents per the hash discipline.
    """
    from big_data_validator_spark.operators.relational import (
        pareto_frontier_2d,
    )

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    return pareto_frontier_2d(
        p, cost_col="price_cents", gain_col="p_size", prefilter_buckets=64
    ).select("p_partkey", "price_cents", "p_size").orderBy("p_partkey")


@query(
    "graph_pagerank_flow",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    nodes AS MATERIALIZED (
      SELECT src AS node FROM e UNION SELECT dst FROM e),
    outd AS MATERIALIZED (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM e GROUP BY 1),
    r0 AS MATERIALIZED (
      SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
    i1 AS MATERIALIZED (
      SELECT n.node,
             CAST(150000000000 + (85 * COALESCE(s.m, 0)) // 100
                  AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(r0.r // outd.od) AS m
        FROM e JOIN r0 ON r0.node = e.src
               JOIN outd ON outd.src = e.src
        GROUP BY 1) s ON s.node = n.node),
    i2 AS MATERIALIZED (
      SELECT n.node,
             CAST(150000000000 + (85 * COALESCE(s.m, 0)) // 100
                  AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(i1.r // outd.od) AS m
        FROM e JOIN i1 ON i1.node = e.src
               JOIN outd ON outd.src = e.src
        GROUP BY 1) s ON s.node = n.node),
    i3 AS MATERIALIZED (
      SELECT n.node,
             CAST(150000000000 + (85 * COALESCE(s.m, 0)) // 100
                  AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(i2.r // outd.od) AS m
        FROM e JOIN i2 ON i2.node = e.src
               JOIN outd ON outd.src = e.src
        GROUP BY 1) s ON s.node = n.node)
    SELECT node, r AS rank_q FROM i3
    WHERE node LIKE 's%' ORDER BY node
    """,
)
def graph_pagerank_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over the customer→supplier flow graph
    (operators/graph.py:pagerank_integer — the registry's first link-
    analysis entry): edges are the DISTINCT (customer, supplier) pairs
    an order connects (orders ⋈ lineitem), three synchronous
    iterations of ``r' = base + (85·Σ_in (r div outdeg)) div 100`` in
    pure BIGINT fixed-point — integer sums are order-independent, so
    an ITERATIVE graph algorithm becomes exactly oracle-checkable
    where float PageRank never could be.  The ORACLE unrolls the three
    iterations as MATERIALIZED CTEs (the text_bpe_learn device).
    Ships the supplier ranks (sinks that accumulate flow), ordered by
    node.  The operator persists the iteration-invariant edge+outdegree
    and node relations ON their join keys (r13: the old entry-level
    edges cache still left every iteration re-deriving distinct edges,
    out-degrees, and the node union — 42 Exchanges for 3 iterations —
    AND was never actually released, since a bare cached source carries
    no ``_bdv_pinned``); pins now ride the result frame and are
    released after materialization.
    """
    from big_data_validator_spark.operators.graph import pagerank_integer

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Narrow node keys (guide §2.3): iterate over BIGINT-encoded nodes
    # (customer 2k, supplier 2k+1 — an isomorphic relabeling, so every
    # out-degree, edge and integer rank is unchanged) and rebuild the
    # 'c'/'s' string ids only on the final supplier-sized result.  The
    # string keys were hashed/compared in all nine iteration exchanges.
    edges = o.join(l, o["o_orderkey"] == l["l_orderkey"]).select(
        (F.col("o_custkey").cast("long") * 2).alias("src"),
        (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
    )
    ranks = pagerank_integer(edges, iters=3)
    out = (
        ranks.filter(F.col("node") % 2 == 1)
        .select(
            F.concat(
                F.lit("s"), ((F.col("node") - 1) / 2).cast("long")
            ).alias("node"),
            "rank_q",
        )
        .orderBy("node")
    )
    out._bdv_pinned = D.pinned_caches(ranks)
    return D.materialize_release(out)


@query(
    "rule_outlier_mad",
    oracle="""
    WITH x AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    med AS (
      SELECT o_orderpriority, median(cents) AS med,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM x GROUP BY 1),
    dev AS (
      SELECT x.o_orderpriority, abs(cents - med) AS adev
      FROM x JOIN med USING (o_orderpriority)),
    mad AS (
      SELECT o_orderpriority, median(adev) AS mad
      FROM dev GROUP BY 1),
    outl AS (
      SELECT dev.o_orderpriority,
             CAST(SUM(CASE WHEN adev * 10000 * 10000
                                > (30000 * 14826) * mad
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM dev JOIN mad USING (o_orderpriority) GROUP BY 1)
    SELECT med.o_orderpriority, n_rows,
           CAST(med * 2 AS BIGINT) AS median_x2,
           CAST(mad * 4 AS BIGINT) AS mad_x4,
           n_outliers
    FROM med JOIN mad USING (o_orderpriority)
             JOIN outl USING (o_orderpriority)
    ORDER BY 1
    """,
)
def rule_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust median/MAD outlier rule (operators/profile.py:
    robust_outlier_mad) — the 50%-breakdown sibling of
    rule_outlier_zscore: one planted extreme inflates a z-score's σ
    and hides every other outlier, while the median and the median
    absolute deviation shrug it off.  Flag: ``|x − median| >
    3·1.4826·MAD`` with the consistency constant carried as the exact
    rational 14826/10⁴.  Cross-engine exactness comes from cents
    integers: the interpolated median lands on 0.5 steps and the MAD
    on 0.25 steps — binary fractions, exact in doubles, every product
    single-rounded IEEE — so the shipped ``median_x2``/``mad_x4``
    BIGINTs and the flag count hash identically on both engines.
    """
    from big_data_validator_spark.operators.profile import (
        robust_outlier_mad,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    res = robust_outlier_mad(
        o, group_col="o_orderpriority", value_col="cents"
    )
    out = res.orderBy("o_orderpriority")
    out._bdv_pinned = D.pinned_caches(res)
    return D.materialize_release(out)


@query(
    "events_rolling_distinct",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT)
             AS distinct_entities
    FROM days d JOIN ud u
      ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day ORDER BY 1
    """,
)
def events_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day DISTINCT active users per day
    (operators/events_analytics.py:rolling_distinct_counts) — the
    sliding aggregate no Spark window function can express
    (``COUNT(DISTINCT) OVER (RANGE …)`` doesn't decompose into a
    running frame).  The Spark device is a bounded interval explode
    (each (user, day) row feeds the 7 report days it is visible
    from — linear shuffle volume, window_days constant); the ORACLE
    is the independent day×activity range-join formulation — two
    different algorithms, one exact answer.
    """
    from big_data_validator_spark.operators.events_analytics import (
        rolling_distinct_counts,
    )

    ev = _t(spark, sf_dir, "events")
    return (
        rolling_distinct_counts(
            ev, entity_col="user_id", ts_col="ts", window_days=7
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "distinct_entities",
        )
        .orderBy("day")
    )


@query(
    "agg_kll_mergeable",
    oracle="""
    WITH v AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice IS NOT NULL),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    d AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS w FROM v GROUP BY 1),
    cum AS (SELECT c, SUM(w) OVER (ORDER BY c) AS cle FROM d),
    t AS (SELECT pct, CAST((pct * n.n + 99) // 100 AS BIGINT) AS r,
                 n.n AS n_rows
          FROM (VALUES (50), (90), (99)) AS q(pct), n)
    SELECT CAST(t.pct AS INT) AS quantile_pct,
           CAST(MIN(cum.c) AS BIGINT) AS exact,
           t.n_rows AS n_rows,
           TRUE AS est_ok
    FROM t JOIN cum ON cum.cle >= t.r
    GROUP BY t.pct, t.n_rows
    """,
)
def agg_kll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketches (operators/sketches.py — VERDICT r8
    item 4, the percentile sibling of agg_hll_mergeable): order values
    in cents are repartitioned by day and flow ONE pass into a
    persistable per-day KLL sketch row, and the global
    p50/p90/p99 is an N-row MERGE of stored sketches — the rolling-
    percentile-without-rescan architecture a 100 TB monitor needs.

    Hash discipline (the agg_hll_mergeable device): sketch internals
    are partitioning-dependent and never ship; the hashed output is
    the EXACT percentile at integer rank ceil(p·n) (block-scan CDF —
    no global sort) plus ``est_ok`` = sketch estimate's rank within
    ±2.5% of target (integer arithmetic), so an accuracy regression
    flips the driver hash.  k=200 measures ~0.3% rank error at this
    scale (tests/test_sketches.py pins ≤1% across random inputs)."""
    from big_data_validator_spark.operators.sketches import (
        kll_quantile_monitor,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    res = kll_quantile_monitor(
        o,
        value_col="c",
        day_col="day",
        quantile_pcts=[50, 90, 99],
        k=200,
        tol_ppm=25_000,
        block_width=1_000_000,
    )
    out = res.orderBy("quantile_pct")
    out._bdv_pinned = D.pinned_caches(res)
    return D.materialize_release(out)


@query(
    "agg_kll_by_segment",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS seg,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
    n AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
    d AS (SELECT seg, c, CAST(COUNT(*) AS BIGINT) AS w FROM v GROUP BY 1, 2),
    cum AS (SELECT seg, c,
                   SUM(w) OVER (PARTITION BY seg ORDER BY c) AS cle
            FROM d),
    t AS (SELECT n.seg, pct, CAST((pct * n.n + 99) // 100 AS BIGINT) AS r,
                 n.n AS n_rows
          FROM (VALUES (50), (90)) AS q(pct), n)
    SELECT t.seg AS o_orderpriority,
           CAST(t.pct AS INT) AS quantile_pct,
           CAST(MIN(cum.c) AS BIGINT) AS exact,
           t.n_rows AS n_rows,
           TRUE AS est_ok
    FROM t JOIN cum ON cum.seg = t.seg AND cum.cle >= t.r
    GROUP BY t.seg, t.pct, t.n_rows
    """,
)
def agg_kll_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-KEY mergeable quantile monitor (operators/sketches.py:
    kll_group_quantile_monitor — VERDICT r9 item 4): p50/p90 of order
    value in cents PER PRIORITY SEGMENT from stored per-(segment, day)
    sketch rows — the shape real monitors need (p99 latency per
    customer segment), where agg_kll_mergeable tracks one global
    distribution.  The raw rows are repartitioned on (segment, day)
    BEFORE the partial build (as in agg_kll_mergeable: one python
    sketch per stored key, not per partition×key), each
    segment's day rows merge to its estimates, and every estimate is
    verified against the exact PER-GROUP block-scan CDF (windows
    partitioned by segment — no global sort, no cross-group window).
    Hash discipline as the global twin: exact integer percentile at
    rank ceil(p·n_seg) plus the ±2.5% rank verdict ship; sketch
    internals never do."""
    from big_data_validator_spark.operators.sketches import (
        kll_group_quantile_monitor,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    res = kll_group_quantile_monitor(
        o,
        value_col="c",
        group_cols=["o_orderpriority"],
        day_col="day",
        quantile_pcts=[50, 90],
        k=200,
        tol_ppm=25_000,
        block_width=1_000_000,
    )
    out = res.orderBy("o_orderpriority", "quantile_pct")
    out._bdv_pinned = D.pinned_caches(res)
    return D.materialize_release(out)


def _semantic_dedup_oracle(
    dim: int = 64,
    num_clusters: int = 8,
    threshold_ppm: int = 300_000,
    kmeans_iters: int = 2,
    train_sample: int = 1024,
    quant_scale: int = 100_000,
    target_cluster_size: int | None = None,
    train_oversample: int = 4,
    train_sample_cap: int = 65_536,
    supercell_size: int | None = None,
) -> str:
    """GENERATE the SemDeDup oracle.  Unlike the hyperplane oracles
    (data-independent literals), the coarse quantizer here is
    data-DEPENDENT — so the oracle RETRAINS it: the integer k-means of
    ``train_centroids_exactint`` (init = first k ids, argmin with ties
    to lowest cid, truncating ``//`` centroid means, empty clusters
    carry forward) unrolled as MATERIALIZED CTEs, one assign+update
    pair per iteration.  Exact integer arithmetic end-to-end makes the
    retrained centroids bit-identical to the Spark driver's trainer —
    the property float k-means can never have (sum order changes the
    means).  Within-cluster pairs are the oracle-side all-pairs join
    (sub-quadratic candidate generation is the Spark side's job); the
    duplicate verdict is the shared dot²·10¹² ≥ t²·|a|²·|b|² integer
    predicate."""

    def dot(a: str, b: str) -> str:
        # stays HUGEINT: casting to BIGINT would overflow the
        # dot² · 10¹² verify product (the emb_near_dup oracle device)
        return (
            f"list_sum(list_transform(list_zip({a}, {b}), "
            "x -> x[1] * x[2]))"
        )

    def kmeans_ctes(points: str, init: str, pfx: str) -> tuple[list, str]:
        """Unroll the exact-integer trainer over relation ``points``
        (columns vec_id, qv) from ``init`` (cid, cv) — shared by the
        main quantizer ('' prefix) and the supercell quantizer trained
        over the CENTROIDS (two-level mode)."""
        ctes = []
        prv = init
        for it in range(kmeans_iters):
            a, m, u, c = (
                f"{pfx}a{it}",
                f"{pfx}m{it}",
                f"{pfx}u{it}",
                f"{pfx}c{it + 1}",
            )
            ctes.append(
                f"""{a} AS MATERIALIZED (
      SELECT vec_id, qv, cid FROM (
        SELECT {points}.vec_id, {points}.qv, {prv}.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY {points}.vec_id
                 ORDER BY {dot(f'{prv}.cv', f'{prv}.cv')}
                          - 2 * {dot(f'{points}.qv', f'{prv}.cv')},
                          {prv}.cid) AS rn
        FROM {points} CROSS JOIN {prv}) WHERE rn = 1),
    {m} AS MATERIALIZED (
      SELECT cid, i, CAST(SUM(qv[i]) AS BIGINT) AS sm,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM {a}, generate_series(1, {dim}) AS g(i)
      GROUP BY 1, 2),
    {u} AS MATERIALIZED (
      SELECT cid, list(sm // cnt ORDER BY i) AS cv FROM {m} GROUP BY 1),
    {c} AS MATERIALIZED (
      SELECT {prv}.cid, COALESCE({u}.cv, {prv}.cv) AS cv
      FROM {prv} LEFT JOIN {u} USING (cid))"""
            )
            prv = c
        return ctes, prv

    iter_ctes, prev = kmeans_ctes("s", "c0", "")
    iters_sql = ",\n    ".join(iter_ctes)
    t2 = threshold_ppm * threshold_ppm
    if target_cluster_size is not None:
        # auto-k (VERDICT r9 item 2): k and the sample size are integer
        # functions of COUNT(*) — the oracle recomputes them instead of
        # receiving literals, mirroring semantic_dedup_exactint's
        # driver-side `n = q.count(); k0 = ceil(n/target); ...` lines
        tgt = target_cluster_size
        kk_cte = f"""kk AS MATERIALIZED (
      SELECT LEAST(k0, sn) AS k, sn FROM (
        SELECT k0, LEAST(n, {train_oversample} * k0,
                         {train_sample_cap}) AS sn
        FROM (SELECT COUNT(*) AS n,
                     (COUNT(*) + {tgt - 1}) // {tgt} AS k0 FROM q))),
    """
        s_limit = "(SELECT sn FROM kk)"
        c0_limit = "(SELECT k FROM kk)"
    else:
        kk_cte = ""
        s_limit = str(train_sample)
        c0_limit = str(num_clusters)
    if supercell_size is not None:
        # two-level quantizer: retrain the SUPERCELLS over the
        # centroids with the same unrolled trainer (prefix 's_'), map
        # each centroid to its nearest supercell (ties to lowest scid),
        # and assign points supercell-first — the IVF rule the Spark
        # kernel replays (two_level_assign_kernel), exact-integer both
        # sides.  Only supercells that own a centroid are assignable.
        if target_cluster_size is None:
            raise ValueError("two-level oracle requires target mode")
        sc = supercell_size
        sup_ctes, sup_prev = kmeans_ctes("cpts", "sc0", "s_")
        sup_sql = ",\n    ".join(sup_ctes)
        two_level_block = f"""kk2 AS MATERIALIZED (
      SELECT (k + {sc - 1}) // {sc} AS m FROM kk),
    cpts AS MATERIALIZED (SELECT cid AS vec_id, cv AS qv FROM {prev}),
    sc0 AS MATERIALIZED (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             qv AS cv
      FROM (SELECT vec_id, qv FROM cpts ORDER BY vec_id
            LIMIT (SELECT m FROM kk2))),
    {sup_sql},
    ca AS MATERIALIZED (
      SELECT vec_id AS ccid, cid AS scid FROM (
        SELECT p.vec_id, sc.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY {dot('sc.cv', 'sc.cv')}
                          - 2 * {dot('p.qv', 'sc.cv')},
                          sc.cid) AS rn
        FROM cpts p CROSS JOIN {sup_prev} sc) WHERE rn = 1),
    live AS MATERIALIZED (
      SELECT sc.cid, sc.cv FROM {sup_prev} sc
      WHERE sc.cid IN (SELECT scid FROM ca)),
    psup AS MATERIALIZED (
      SELECT vec_id, qv, scid FROM (
        SELECT q.vec_id, q.qv, l.cid AS scid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {dot('l.cv', 'l.cv')}
                          - 2 * {dot('q.qv', 'l.cv')},
                          l.cid) AS rn
        FROM q CROSS JOIN live l) WHERE rn = 1),
    """
        bf_cte = f"""bf AS MATERIALIZED (
      SELECT vec_id, qv, cid FROM (
        SELECT psup.vec_id, psup.qv, ca.ccid AS cid,
               ROW_NUMBER() OVER (
                 PARTITION BY psup.vec_id
                 ORDER BY {dot('cc.cv', 'cc.cv')}
                          - 2 * {dot('psup.qv', 'cc.cv')},
                          ca.ccid) AS rn
        FROM psup JOIN ca ON ca.scid = psup.scid
                  JOIN {prev} cc ON cc.cid = ca.ccid) WHERE rn = 1)"""
    else:
        two_level_block = ""
        bf_cte = f"""bf AS MATERIALIZED (
      SELECT vec_id, qv, cid FROM (
        SELECT q.vec_id, q.qv, {prev}.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {dot(f'{prev}.cv', f'{prev}.cv')}
                          - 2 * {dot('q.qv', f'{prev}.cv')},
                          {prev}.cid) AS rn
        FROM q CROSS JOIN {prev}) WHERE rn = 1)"""
    return f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * {quant_scale}.0) AS BIGINT))
               AS qv
      FROM embeddings),
    {kk_cte}s AS MATERIALIZED (
      SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {s_limit}),
    c0 AS MATERIALIZED (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             qv AS cv
      FROM (SELECT vec_id, qv FROM s ORDER BY vec_id
            LIMIT {c0_limit})),
    {iters_sql},
    {two_level_block}{bf_cte},
    v AS MATERIALIZED (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b,
             {dot('x.qv', 'y.qv')} AS dot,
             {dot('x.qv', 'x.qv')} AS na2,
             {dot('y.qv', 'y.qv')} AS nb2
      FROM bf x JOIN bf y
        ON x.cid = y.cid AND x.vec_id < y.vec_id),
    pruned AS MATERIALIZED (
      SELECT DISTINCT id_b FROM v
      WHERE dot > 0
        AND dot * dot * 1000000000000 >= {t2} * na2 * nb2)
    SELECT bf.vec_id, CAST(bf.cid AS INT) AS cell,
           (pruned.id_b IS NULL) AS keep
    FROM bf LEFT JOIN pruned ON bf.vec_id = pruned.id_b
    """


@query("dedup_semantic_clusters", oracle=_semantic_dedup_oracle())
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding-cluster dedup (operators/similarity.py:
    semantic_dedup_exactint — VERDICT r8 item 5): the semantic tier
    above lexical MinHash/ssjoin.  Coarse integer k-means clusters the
    corpus (trainer: bounded deterministic sample, truncating-division
    means — exact enough that the ORACLE RETRAINS the identical
    centroids as unrolled MATERIALIZED CTEs, no data-dependent
    literals), a map-side Arrow int64 matmul assigns every vector its
    cell, candidates form WITHIN a cluster only (capped_bucket_pairs —
    |cluster|²-bounded, never corpus²), and items with a smaller-id
    duplicate at cosine ≥ 0.30 are pruned, one representative kept.
    All verdict arithmetic is the shared exact-integer sqrt-free
    predicate, so every row hashes identically cross-engine."""
    emb = _t(spark, sf_dir, "embeddings")
    out = S.semantic_dedup_exactint(
        emb,
        dim=64,
        num_clusters=8,
        threshold_ppm=300_000,
        kmeans_iters=2,
        train_sample=1024,
        max_cluster_size=None,
    )
    return D.materialize_release(out)


@query(
    "dedup_semantic_autok",
    oracle=_semantic_dedup_oracle(target_cluster_size=50),
)
def dedup_semantic_autok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the SCALE-SAFE configuration (VERDICT r9 item 2):
    same exact-integer cluster-then-prune pipeline as
    `dedup_semantic_clusters`, but the cluster count scales WITH the
    corpus — ``k = ceil(n / 50)`` — so cluster population (and with it
    the |cluster|²-bounded pair stage) stays ~constant at any scale
    instead of growing linearly as the fixed-k=8 demo's does.  k and
    the training-sample size are integer functions of COUNT(*), so the
    oracle recomputes both via data-dependent LIMITs and retrains the
    identical centroids from the parquet — no data-dependent literals.
    The fixed-k twin stays registered as the determinism demo; THIS is
    the configuration a 100 TB corpus runs (SemDeDup's k-in-the-tens-
    of-thousands regime), and the one BENCH_SCALE measures for
    sublinearity."""
    emb = _t(spark, sf_dir, "embeddings")
    out = S.semantic_dedup_exactint(
        emb,
        dim=64,
        threshold_ppm=300_000,
        kmeans_iters=2,
        target_cluster_size=50,
        max_cluster_size=None,
    )
    return D.materialize_release(out)


@query(
    "dedup_semantic_twolevel",
    oracle=_semantic_dedup_oracle(
        target_cluster_size=50, supercell_size=4
    ),
)
def dedup_semantic_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the TWO-LEVEL quantizer (operators/similarity.py:
    two_level_assign_kernel) — the IVF device that kills auto-k's last
    superlinear term: assignment drops from k dot products per point to
    m + k/m (supercells first, then only that supercell's member
    centroids).  Supercells are trained over the CENTROIDS by the same
    exact-integer trainer, each centroid maps to its nearest supercell
    (ties to lowest id), and points in different supercells can never
    share a dedup cell.  This is a DIFFERENT partition than flat
    assignment — the honest IVF approximation, not a shortcut — so the
    ORACLE retrains the supercells too (prefix 's_' CTEs over the
    retrained centroid relation) and replays the two-hop rule; every
    quantity stays exact-integer, so the partition is bit-identical
    cross-engine.  At 100 TB with k in the tens of thousands this is
    the difference between n·k and n·2√k assignment FLOPs."""
    emb = _t(spark, sf_dir, "embeddings")
    out = S.semantic_dedup_exactint(
        emb,
        dim=64,
        threshold_ppm=300_000,
        kmeans_iters=2,
        target_cluster_size=50,
        supercell_size=4,
        max_cluster_size=None,
    )
    return D.materialize_release(out)


@query(
    "cdc_schema_changeset",
    oracle="""
    WITH cur AS (
      SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp,
             CASE WHEN o_orderkey % 4 = 0 THEN NULL
                  ELSE CAST(o_custkey AS VARCHAR) END AS legacy_note
      FROM orders),
    inc AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS tp,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  ELSE o_orderpriority END AS priority_code
      FROM orders WHERE o_orderkey % 10 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  ELSE o_orderpriority END
      FROM orders WHERE o_orderkey % 13 = 0)
    SELECT k AS o_orderkey, change_type,
           'priority_code' AS added_cols,
           'legacy_note' AS dropped_cols
    FROM (
      SELECT COALESCE(c.k, i.k) AS k,
             CASE WHEN i.k IS NULL THEN 'delete'
                  WHEN c.k IS NULL THEN 'insert'
                  WHEN c.st IS DISTINCT FROM i.st
                    OR c.tp IS DISTINCT FROM i.tp THEN 'update'
                  WHEN i.priority_code IS NOT NULL THEN 'schema_add'
                  WHEN c.legacy_note IS NOT NULL THEN 'schema_drop'
                  ELSE 'unchanged' END AS change_type
      FROM cur c FULL OUTER JOIN inc i ON c.k = i.k)
    WHERE change_type <> 'unchanged'
    """,
)
def cdc_schema_changeset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution-aware CDC diff (operators/cdc.py:
    snapshot_changeset_evolving — VERDICT r8 item 6): the incoming
    orders snapshot simultaneously changes DATA (10% of keys deleted,
    every 7th price bumped, every 13th re-inserted under a new id) and
    SCHEMA (gains ``priority_code``, loses ``legacy_note``).  Plain
    snapshot_changeset fingerprints shared columns only and is blind to
    the schema delta; the evolving variant classifies shared-unchanged
    keys that RECEIVED non-NULL added data as ``schema_add`` and keys
    that LOST non-NULL dropped data as ``schema_drop``; data updates
    dominate both.  The shuffle still
    moves only (key, fingerprint, two 1-byte flags)."""
    from big_data_validator_spark.operators.cdc import (
        snapshot_changeset_evolving,
    )

    o = _t(spark, sf_dir, "orders")
    current = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 4 == 0, F.lit(None))
        .otherwise(F.col("o_custkey").cast("string"))
        .alias("legacy_note"),
    )
    priority_code = (
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("priority_code")
    )
    base = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 1.1
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        priority_code,
    )
    inserts = o.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
        priority_code,
    )
    return snapshot_changeset_evolving(
        current,
        base.unionAll(inserts),
        key_cols=["o_orderkey"],
    )


#: Shared by the batch and streaming SCD2 entries — both maintain the
#: same three planted customer snapshot versions, so one SQL oracle
#: (the independent LAG/LEAD formulation) checks both.
_SCD2_CUSTOMER_ORACLE = """
    WITH snaps AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acct_cents,
             1 AS v
      FROM customer
      UNION ALL
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN 'MIGRATED'
                  ELSE c_mktsegment END,
             CAST(ROUND(c_acctbal * 100) AS BIGINT), 2
      FROM customer
      UNION ALL
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN 'MIGRATED'
                  ELSE c_mktsegment END,
             CAST(ROUND(c_acctbal * 100) AS BIGINT)
               + CASE WHEN c_custkey % 5 = 0 THEN 1000 ELSE 0 END, 3
      FROM customer),
    lagged AS (
      SELECT *, LAG(seg) OVER w AS pseg, LAG(acct_cents) OVER w AS pac,
             LAG(v) OVER w AS pv
      FROM snaps WINDOW w AS (PARTITION BY k ORDER BY v)),
    opens AS (
      SELECT k, seg, acct_cents, v AS valid_from FROM lagged
      WHERE pv IS NULL OR seg IS DISTINCT FROM pseg
         OR acct_cents IS DISTINCT FROM pac)
    SELECT k AS c_custkey, seg AS c_mktsegment, acct_cents,
           CAST(valid_from AS INT) AS valid_from,
           CAST(LEAD(valid_from) OVER w2 AS INT) AS valid_to,
           (LEAD(valid_from) OVER w2 IS NULL) AS is_current
    FROM opens WINDOW w2 AS (PARTITION BY k ORDER BY valid_from)
    """


def _customer_scd2_versions(
    spark: SparkSession, sf_dir: str
) -> list[DataFrame]:
    """The three planted customer snapshot versions both SCD2 entries
    maintain: v2 migrates every 7th key's segment, v3 bumps every 5th
    key's balance (integer cents, the portable ROUND device)."""
    c = _t(spark, sf_dir, "customer")
    cents = F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").alias(
        "acct_cents"
    )
    migrated = (
        F.when(F.col("c_custkey") % 7 == 0, F.lit("MIGRATED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment")
    )
    v1 = c.select(
        "c_custkey", F.col("c_mktsegment"), cents, F.lit(1).alias("v")
    )
    v2 = c.select("c_custkey", migrated, cents, F.lit(2).alias("v"))
    v3 = c.select(
        "c_custkey",
        migrated,
        (
            F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)")
            + F.when(F.col("c_custkey") % 5 == 0, F.lit(1000)).otherwise(
                F.lit(0)
            )
        ).alias("acct_cents"),
        F.lit(3).alias("v"),
    )
    return [v1, v2, v3]


@query("cdc_scd2_history", oracle=_SCD2_CUSTOMER_ORACLE)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension TYPE 2 build (operators/cdc.py:
    scd2_history): three stacked snapshot versions of the customer
    dimension — v2 migrates every 7th key's segment, v3 bumps every
    5th key's balance — collapse into validity intervals
    ``(valid_from, valid_to, is_current)``, the dimension-history
    table every warehouse maintains on top of CDC feeds.  Unchanged
    keys keep ONE open interval; changed keys close the old interval
    at the change version (half-open).  One shuffle on the key: the
    change-detection lag and the interval-closing lead ride the same
    window sort.  Balances compare in integer cents (the portable
    ROUND device), so every interval hashes identically cross-engine."""
    from big_data_validator_spark.operators.cdc import scd2_history

    v1, v2, v3 = _customer_scd2_versions(spark, sf_dir)
    return scd2_history(
        v1.unionByName(v2).unionByName(v3),
        key_cols=["c_custkey"],
        tracked_cols=["c_mktsegment", "acct_cents"],
        version_col="v",
    )


def _scd2_stream_source(spark: SparkSession, sf_dir: str) -> str:
    """The three customer snapshot versions as a 3-run streaming source:
    exactly one snapshot version per micro-batch, in order."""
    return _staged_runs(
        spark, sf_dir, "scd2", lambda: list(_customer_scd2_versions(spark, sf_dir))
    )


@query("streaming_scd2_history", oracle=_SCD2_CUSTOMER_ORACLE)
def streaming_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD Type-2 maintenance (streaming/validate_stream.py:
    stream_scd2_history): the same three customer snapshot versions
    arrive as micro-batches (``maxFilesPerTrigger=1``, mtime-ordered),
    and each batch advances the history table incrementally — one key
    join between the open-interval slice and the snapshot
    (operators/cdc.py:scd2_apply_snapshot), chained through committed
    ``batch_id=N`` state dirs under the ``_SUCCESS`` protocol (replay
    no-ops on the marker).  Applying versions in arrival order
    reproduces the batch rebuild EXACTLY, so this entry shares the
    batch twin's oracle — the strongest possible check that
    incremental == rebuild across the batch/streaming boundary (the
    streaming_incremental_mv device, now for dimension history)."""
    from big_data_validator_spark.streaming.validate_stream import (
        _committed_batch_dirs,
        stream_scd2_history,
    )

    src = _scd2_stream_source(spark, sf_dir)
    empty_history = spark.createDataFrame(
        [],
        "c_custkey long, c_mktsegment string, acct_cents long, "
        "valid_from int, valid_to int, is_current boolean",
    )
    return _bounded_drain(
        spark,
        "streaming_scd2_history",
        lambda d: stream_scd2_history(
            _ordered_stream(spark, src),
            key_cols=["c_custkey"],
            tracked_cols=["c_mktsegment", "acct_cents"],
            version_col="v",
            initial_history=empty_history,
            state_path=f"{d.root}/state",
            checkpoint_path=d.checkpoint,
        ),
        lambda d: spark.read.parquet(
            _committed_batch_dirs(spark, f"{d.root}/state")[-1]
        ).orderBy("c_custkey", "valid_from"),
    )


def _label_propagation_oracle(iters: int = 3) -> str:
    """Unrolled min-label propagation (the pagerank CTE device): one
    (neighbor-min LEFT JOIN + LEAST) stage per iteration over the
    symmetrized distinct edge set."""
    stages = []
    prev = "lab0"
    for it in range(1, iters + 1):
        cur = f"lab{it}"
        stages.append(
            f"""{cur} AS MATERIALIZED (
      SELECT n.node,
             LEAST(n.label, COALESCE(m.nl, n.label)) AS label
      FROM {prev} n LEFT JOIN (
        SELECT e.b AS node, MIN(l.label) AS nl
        FROM e JOIN {prev} l ON l.node = e.a
        GROUP BY 1) m ON m.node = n.node)"""
        )
        prev = cur
    stages_sql = ",\n    ".join(stages)
    return f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                      's' || CAST(l_suppkey AS VARCHAR) AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_totalprice > 450000),
    e AS MATERIALIZED (
      SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
    lab0 AS MATERIALIZED (
      SELECT node, node AS label
      FROM (SELECT DISTINCT a AS node FROM e)),
    {stages_sql}
    SELECT node, label FROM {prev} ORDER BY node
    """


@query("graph_label_propagation", oracle=_label_propagation_oracle(3))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation over the HIGH-VALUE customer↔supplier
    flow subgraph (operators/graph.py:label_propagation_min — VERDICT
    r8 item 8, rounding out link analysis next to PageRank): edges are
    restricted to orders above 450k so the graph fractures into dozens
    of components (the full graph is one blob and every label
    collapses — discriminating nothing); three synchronous HashMin
    rounds over the symmetrized distinct edge set give each node the
    minimum id within its 3-hop neighborhood —
    the fixed-round, engine-portable form of connected components
    (min over string ids is order-independent, unlike any float
    computation).  The ORACLE unrolls the three rounds as MATERIALIZED
    CTEs, one neighbor-min join per round — two engines, one algebra.
    The operator persists the symmetrized relation hash-partitioned on
    the join key (r13: the old entry-level cache fed every round
    through a fresh Exchange — 68 total — and, being a bare cached
    source, was never released); pins ride the result frame and are
    released after materialization."""
    from big_data_validator_spark.operators.graph import (
        label_propagation_min,
    )

    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select("o_orderkey", "o_custkey")
    )
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    directed = o.join(l, o["o_orderkey"] == l["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
            "src"
        ),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
            "dst"
        ),
    ).distinct()
    # symmetrize ONCE and cache: the undirected relation is consumed by
    # every propagation round, so the distinct-union shuffle must not
    # re-run per iteration
    und = directed.union(
        directed.select(F.col("dst"), F.col("src"))
    ).distinct()
    labels = label_propagation_min(und, iters=3)
    out = labels.orderBy("node")
    out._bdv_pinned = D.pinned_caches(labels)
    return D.materialize_release(out)


@query(
    "agg_kll_rolling",
    oracle="""
    WITH v AS (
      SELECT o_orderdate AS d,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice IS NOT NULL),
    days AS (
      SELECT CAST(rd AS DATE) AS rd
      FROM generate_series(DATE '1995-01-01', DATE '1995-01-31',
                           INTERVAL 1 DAY) AS g(rd)),
    w AS (
      SELECT days.rd, v.c FROM days JOIN v
        ON v.d > days.rd - INTERVAL 30 DAY AND v.d <= days.rd),
    n AS (SELECT rd, CAST(COUNT(*) AS BIGINT) AS n_rows FROM w GROUP BY 1),
    cum AS (
      SELECT rd, c,
             SUM(COUNT(*)) OVER (PARTITION BY rd ORDER BY c) AS cle
      FROM w GROUP BY rd, c),
    t AS (SELECT n.rd, n.n_rows,
                 CAST((90 * n.n_rows + 99) // 100 AS BIGINT) AS r
          FROM n)
    SELECT STRFTIME(t.rd, '%Y-%m-%d') AS day,
           CAST(MIN(cum.c) AS BIGINT) AS exact,
           t.n_rows AS n_rows,
           TRUE AS est_ok
    FROM t JOIN cum ON cum.rd = t.rd AND cum.cle >= t.r
    GROUP BY t.rd, t.n_rows
    ORDER BY 1
    """,
)
def agg_kll_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-day p90 of order values for every January-1995 day,
    computed FROM STORED SKETCH ROWS ONLY (operators/sketches.py:
    kll_rolling_monitor) — the query the mergeable-sketch architecture
    exists for: per-day KLL sketches fan out through the bounded
    interval explode (≤30 report days each, the events_rolling_distinct
    device) and each report day MERGES its ≤30 sketch rows; the raw
    table is scanned once to build the day sketches, never per window.
    At 100 TB that is KBs of sketch I/O per report day versus 30 days
    of raw partitions.  Verification ships the exact trailing
    percentile (per-report-day partitioned cumulative counts — no
    global sort) plus the ±2.5% rank verdict, so the hash is
    engine-exact while a sketch-accuracy regression flips it."""
    from big_data_validator_spark.operators.sketches import (
        kll_rolling_monitor,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    res = kll_rolling_monitor(
        o,
        value_col="c",
        day_col="day",
        pct=90,
        window_days=30,
        report_from="1995-01-01",
        report_to="1995-01-31",
        k=200,
        tol_ppm=25_000,
    )
    out = res.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "exact",
        "n_rows",
        "est_ok",
    ).orderBy("day")
    out._bdv_pinned = D.pinned_caches(res)
    return D.materialize_release(out)


@query(
    "graph_triangle_count",
    oracle="""
    WITH e0 AS MATERIALIZED (
      SELECT a.l_partkey AS x, b.l_partkey AS y
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    t AS MATERIALIZED (
      SELECT e1.x AS u, e1.y AS v, e2.y AS w
      FROM e0 e1
      JOIN e0 e2 ON e2.x = e1.x AND e2.y > e1.y
      JOIN e0 e3 ON e3.x = e1.y AND e3.y = e2.y),
    r AS (SELECT u AS node FROM t
          UNION ALL SELECT v FROM t
          UNION ALL SELECT w FROM t)
    SELECT node AS p_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM r GROUP BY 1 ORDER BY 1
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the FREQUENT co-purchase graph
    (operators/graph.py:triangle_counts) — the motif member completing
    the graph family next to PageRank and label propagation.  Edges =
    part pairs co-occurring in ≥2 orders (the mining_frequent_pairs
    support device prunes the 100×-larger incidental-pair haze);
    triangles = closed co-purchase trios, the clustering signal basket
    analysis and recommender audits read.  The Spark side counts via
    DEGREE-ORDERED orientation (each triangle generated once at its
    rank-minimal vertex, out-degrees bounded O(√m) so a hub part can't
    own the wedge join); the ORACLE is the independent id-ordered
    3-way self-join — two different enumeration orders, one exact
    integer answer.  r13: the operator persists the distinct-edge and
    oriented relations for their three consumers each (the before-plan
    re-derived them per consumer — 48 Exchanges), the support-filtered
    input is cached for the build, and ALL pins now ride the result
    frame: the old entry passed the bare cached frame to
    materialize_release, which releases only ``_bdv_pinned`` lists, so
    the cache silently survived every run — and Spark's plan-keyed
    cache manager then served later bench passes from it (cross-pass
    result reuse the bench must not have)."""
    from big_data_validator_spark.operators.graph import triangle_counts

    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    l2 = l.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("_pk")
    )
    edges = (
        l.join(l2, l["l_orderkey"] == l2["_ok"])
        .filter(F.col("l_partkey") < F.col("_pk"))
        .groupBy(
            F.col("l_partkey").alias("src"), F.col("_pk").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("src", "dst")
    )
    # no entry-level cache: the operator persists its derived edge
    # relation, which consumes this input exactly once — a second
    # back-to-back cache of the same rows is pure write+read overhead.
    tri = triangle_counts(edges)
    out = tri.select(
        F.col("node").alias("p_partkey"), "n_triangles"
    ).orderBy("p_partkey")
    out._bdv_pinned = D.pinned_caches(tri)
    return D.materialize_release(out)


@query(
    "dedup_shared_substrings",
    oracle="""
    WITH g AS MATERIALIZED (
      SELECT doc_id, substr(text, i, 40) AS gram
      FROM documents JOIN generate_series(1, 2000) AS t(i)
        ON i <= len(text) - 39),
    c AS MATERIALIZED (
      SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c
      FROM g GROUP BY 1, 2),
    d AS MATERIALIZED (
      SELECT gram FROM c GROUP BY gram
      HAVING COUNT(*) BETWEEN 2 AND 50),
    e AS MATERIALIZED (SELECT c.* FROM c JOIN d USING (gram))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(SUM(a.c * b.c) AS BIGINT) AS n_shared_positions,
           CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def dedup_shared_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact VERBATIM-span dedup (operators/dedup.py:
    shared_substring_pairs): document pairs sharing any exact 40-char
    substring, with the position-pair count — the "dedup training data
    by exact substring" tier between exact-doc fingerprints and
    probabilistic near-dup, catching quoted boilerplate and copy-pasta
    that sentence-level similarity misses.  Stride-1 grams map to
    128-bit fingerprint keys in the explode stage (VERDICT r10 item 6:
    gram TEXT never crosses the wire — the exchange carries 16
    fixed-width bytes per position instead of 40 string chars; the
    measured suffix-distinct alternative saves nothing on a corpus
    with zero within-doc gram repetition), grams in >50 docs drop
    BEFORE pair generation (a stop-fingerprint cap —
    per-gram pair work is cap²-bounded, never corpus²), pairs expand
    from each gram's collected (doc, count) list with higher-order
    array functions map-side (three exchanges incl. the output sort,
    no cache, no self-join), and ``Σ cnt_a·cnt_b`` reproduces the
    exact position-pair count as a pure integer contract.  The oracle
    is the independent positional formulation over ``substr`` +
    ``generate_series``."""
    from big_data_validator_spark.operators.dedup import (
        shared_substring_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    res = shared_substring_pairs(docs, gram_len=40, max_gram_docs=50)
    return res.orderBy("doc_a", "doc_b")


@query(
    "streaming_kll_quantiles",
    oracle="""
    WITH v AS (
      SELECT CAST(FLOOR(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    d AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS w FROM v GROUP BY 1),
    cum AS (SELECT c, SUM(w) OVER (ORDER BY c) AS cle FROM d),
    t AS (SELECT pct, CAST((pct * n.n + 99) // 100 AS BIGINT) AS r,
                 n.n AS n_rows
          FROM (VALUES (50), (90), (99)) AS q(pct), n)
    SELECT CAST(t.pct AS INT) AS quantile_pct,
           CAST(MIN(cum.c) AS BIGINT) AS exact,
           t.n_rows AS n_rows,
           TRUE AS est_ok
    FROM t JOIN cum ON cum.cle >= t.r
    GROUP BY t.pct, t.n_rows
    """,
)
def streaming_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING percentile monitor from mergeable sketches,
    oracle-checked end-to-end (streaming/validate_stream.py:
    stream_kll_sketches): a real ``readStream`` drains the 4-run drift
    source with ``maxFilesPerTrigger=1``, each micro-batch reduces to
    ONE persisted KLL sketch row under the exactly-once batch-id
    commit protocol, and the live p50/p90/p99 is a 4-row MERGE of the
    repository — the stream is read once, state never accumulates in
    the query (the repository IS the state, one bounded row per
    batch).  Values are floor-quantized cents (floor of a double
    product is engine-portable; round is not).  Verification ships the
    exact percentile over the same drained rows plus the ±2.5% rank
    verdict — the agg_kll_mergeable hash discipline, now across the
    batch/streaming boundary."""
    from big_data_validator_spark.operators.sketches import (
        kll_rollup_quantiles,
        kll_verify_quantiles,
    )
    from big_data_validator_spark.streaming.validate_stream import (
        read_metrics_repository,
        stream_kll_sketches,
    )

    src = _drift_stream_source(spark, sf_dir)
    cents = F.floor(F.col("value") * 100).cast("long").alias("c")

    def read_back(d: _Drain) -> DataFrame:
        sketches = read_metrics_repository(spark, f"{d.root}/repo")
        est = kll_rollup_quantiles(sketches, [50, 90, 99], k=200)
        drained = (
            spark.read.parquet(f"{src}/*")
            .filter(F.col("value").isNotNull())
            .select(cents)
        )
        res = kll_verify_quantiles(
            est, drained, "c", tol_ppm=25_000, block_width=1_000_000
        )
        out = res.orderBy("quantile_pct")
        out._bdv_pinned = D.pinned_caches(res)
        return out

    return _bounded_drain(
        spark,
        "streaming_kll_quantiles",
        lambda d: stream_kll_sketches(
            _ordered_stream(spark, src)
            .filter(F.col("value").isNotNull())
            .select(cents),
            value_col="c",
            repo_path=f"{d.root}/repo",
            checkpoint_path=d.checkpoint,
            k=200,
        ),
        read_back,
    )


def _kll_group_stream_source(spark: SparkSession, sf_dir: str) -> str:
    """A 3-run streaming source for the per-group sketch drain: events
    split by ``user_id % 3`` into runs (a full partition — the union of
    runs is the whole table, so the oracle is plain SQL over
    ``events``), keeping the event_type group key and floor-quantized
    cents."""

    def runs() -> list:
        ev = (
            _t(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
            .select(
                "event_type",
                F.floor(F.col("value") * 100).cast("long").alias("c"),
                (F.col("user_id") % 3).alias("_run"),
            )
        )
        return [ev.filter(F.col("_run") == r).drop("_run") for r in range(3)]

    return _staged_runs(spark, sf_dir, "kll_group", runs)


@query(
    "streaming_kll_by_group",
    oracle="""
    WITH v AS (
      SELECT event_type AS g, CAST(FLOOR(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
    d AS (SELECT g, c, CAST(COUNT(*) AS BIGINT) AS w FROM v GROUP BY 1, 2),
    cum AS (SELECT g, c, SUM(w) OVER (PARTITION BY g ORDER BY c) AS cle
            FROM d),
    t AS (SELECT n.g, pct, CAST((pct * n.n + 99) // 100 AS BIGINT) AS r,
                 n.n AS n_rows
          FROM (VALUES (50), (90)) AS q(pct), n)
    SELECT t.g AS event_type, CAST(t.pct AS INT) AS quantile_pct,
           CAST(MIN(cum.c) AS BIGINT) AS exact,
           t.n_rows AS n_rows, TRUE AS est_ok
    FROM t JOIN cum ON cum.g = t.g AND cum.cle >= t.r
    GROUP BY t.g, t.pct, t.n_rows
    """,
)
def streaming_kll_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING per-group percentile monitor (streaming/
    validate_stream.py:stream_kll_group_sketches): a real
    ``readStream`` drains the 3-run grouped source with
    ``maxFilesPerTrigger=1``, each micro-batch persists ONE KLL sketch
    row PER event_type under the exactly-once batch-id commit
    protocol, and the live per-group p50/p90 is a per-group merge of
    the repository rows — the streaming twin of agg_kll_by_segment,
    sharing its grouped rollup and grouped exact-CDF verify legs.
    Values are floor-quantized cents (floor of a double product is
    engine-portable).  The runs partition events by user hash, so the
    oracle is plain SQL over the whole table."""
    from big_data_validator_spark.operators.sketches import (
        kll_group_rollup_quantiles,
        kll_group_verify_quantiles,
    )
    from big_data_validator_spark.streaming.validate_stream import (
        read_metrics_repository,
        stream_kll_group_sketches,
    )

    src = _kll_group_stream_source(spark, sf_dir)

    def read_back(d: _Drain) -> DataFrame:
        sketches = read_metrics_repository(spark, f"{d.root}/repo")
        est = kll_group_rollup_quantiles(
            sketches.select("event_type", "sketch", "n_rows"),
            ["event_type"],
            [50, 90],
            k=200,
        )
        drained = spark.read.parquet(f"{src}/*")
        res = kll_group_verify_quantiles(
            est, drained, "c", ["event_type"], tol_ppm=25_000,
            block_width=1_000_000,
        )
        out = res.orderBy("event_type", "quantile_pct")
        out._bdv_pinned = D.pinned_caches(res)
        return out

    return _bounded_drain(
        spark,
        "streaming_kll_by_group",
        lambda d: stream_kll_group_sketches(
            _ordered_stream(spark, src),
            value_col="c",
            group_cols=["event_type"],
            repo_path=f"{d.root}/repo",
            checkpoint_path=d.checkpoint,
            k=200,
        ),
        read_back,
    )


def _unigram_viterbi_ctes(
    r: str, probs_cte: str, words_cte: str, W: int, L: int
) -> list:
    """Shared Viterbi-segmentation CTE block, prefix ``r``: DP stages
    over ``words_cte`` under ``probs_cte``'s (piece, p) rows — per
    stage a per-length candidate union → windowed argmax with MIN(l)
    tie-break (exactly the kernel's ascending-l strictly-greater
    rule) — then backtrace stages emitting one piece per step, and a
    ``u{r}`` integer piece recount.  Reused by the learn oracle's EM
    rounds AND the encode oracle's final segmentation."""
    parts = [f"""
    d{r}_0 AS MATERIALIZED (
      SELECT w, cnt, CAST(1.0 AS DOUBLE) AS score FROM {words_cte})"""]
    for j in range(1, W + 1):
        branches = []
        for l in range(1, min(L, j) + 1):
            branches.append(
                f"""SELECT d.w, d.cnt, {l} AS l, d.score * p.p AS cand
        FROM d{r}_{j - l} d JOIN {probs_cte} p
          ON p.piece = substr(d.w, {j - l + 1}, {l})
        WHERE len(d.w) >= {j}"""
            )
        union = "\n        UNION ALL\n        ".join(branches)
        parts.append(f"""
    c{r}_{j} AS MATERIALIZED (
        {union}),
    d{r}_{j} AS MATERIALIZED (
      SELECT w, cnt, score, MIN(l) AS bl FROM (
        SELECT w, cnt, l, cand,
               MAX(cand) OVER (PARTITION BY w) AS score
        FROM c{r}_{j})
      WHERE cand = score GROUP BY w, cnt, score)""")
    dd = "\n      UNION ALL\n      ".join(
        f"SELECT w, {j} AS pos, bl FROM d{r}_{j}" for j in range(1, W + 1)
    )
    parts.append(f"""
    dd{r} AS MATERIALIZED (
      {dd}),
    t{r}_0 AS MATERIALIZED (
      SELECT w, cnt, len(w) AS pos FROM {words_cte})""")
    for s in range(1, W + 1):
        parts.append(f"""
    t{r}_{s} AS MATERIALIZED (
      SELECT t.w, t.cnt, t.pos - d.bl AS pos,
             substr(t.w, t.pos - d.bl + 1, d.bl) AS piece
      FROM t{r}_{s - 1} t JOIN dd{r} d
        ON d.w = t.w AND d.pos = t.pos
      WHERE t.pos > 0)""")
    uu = "\n        UNION ALL\n        ".join(
        f"SELECT piece, cnt FROM t{r}_{s}" for s in range(1, W + 1)
    )
    parts.append(f"""
    u{r} AS MATERIALIZED (
      SELECT piece, SUM(cnt) AS uc FROM (
        {uu}) GROUP BY piece)""")
    return parts


def _unigram_learn_ctes(
    num_pieces: int = 48,
    max_piece_len: int = 4,
    em_iters: int = 2,
    max_word_len: int = 12,
) -> list:
    """GENERATE the unrolled unigram-LM TRAINING CTE chain (the
    ``_bpe_learn_oracle_sql`` device applied to hard-EM): seed CTEs,
    then per EM round a probability CTE (one exact-int-to-DOUBLE
    division per piece), the shared Viterbi block
    (:func:`_unigram_viterbi_ctes`), and the integer recount with the
    single-char floor.  Every float is a chain of correctly-rounded
    IEEE ops over exact integers in pinned order, so DuckDB DOUBLEs
    equal the kernel's Python floats bit-for-bit; only INTEGER counts
    are shipped.  Ends at CTE ``v{em_iters}``."""
    W, L = max_word_len, max_piece_len
    parts = [f"""
    WITH toks AS MATERIALIZED (
      SELECT unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS w
      FROM documents),
    w0 AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks WHERE len(w) <= {W} GROUP BY w),
    cand AS MATERIALIZED (
      SELECT substr(w, s.s, l.l) AS piece, SUM(cnt) AS freq
      FROM w0, generate_series(1, {W}) AS s(s),
           generate_series(1, {L}) AS l(l)
      WHERE s.s + l.l - 1 <= len(w)
      GROUP BY 1),
    top AS MATERIALIZED (
      SELECT piece, freq FROM cand
      ORDER BY freq DESC, piece ASC LIMIT {num_pieces}),
    v0 AS MATERIALIZED (
      SELECT piece, CAST(freq AS BIGINT) AS c FROM top
      UNION ALL
      SELECT piece, CAST(freq AS BIGINT) AS c FROM cand
      WHERE len(piece) = 1
        AND piece NOT IN (SELECT piece FROM top))"""]
    for r in range(em_iters):
        parts.append(f"""
    tt{r} AS MATERIALIZED (
      SELECT CAST(SUM(c) AS DOUBLE) AS total FROM v{r}),
    p{r} AS MATERIALIZED (
      SELECT piece, CAST(c AS DOUBLE) / total AS p
      FROM v{r}, tt{r} WHERE c > 0)""")
        parts.extend(_unigram_viterbi_ctes(str(r), f"p{r}", "w0", W, L))
        parts.append(f"""
    v{r + 1} AS MATERIALIZED (
      SELECT v.piece,
             CASE WHEN len(v.piece) = 1
                  THEN GREATEST(COALESCE(u.uc, 0), 1)
                  ELSE COALESCE(u.uc, 0) END AS c
      FROM v{r} v LEFT JOIN u{r} u ON u.piece = v.piece)""")
    return parts


def _unigram_learn_oracle_sql(em_iters: int = 2) -> str:
    parts = _unigram_learn_ctes(em_iters=em_iters)
    return (
        ",".join(parts)
        + f"""
    SELECT piece, CAST(c AS BIGINT) AS piece_count
    FROM v{em_iters} WHERE c > 0"""
    )


def _unigram_encode_oracle_sql(em_iters: int = 2) -> str:
    """GENERATE the unigram ENCODE oracle: the full learn chain up to
    ``v{T}``, then one more probability CTE over the FINAL counts and
    one more shared Viterbi block segmenting the weighted vocabulary
    under them (exactly a further E-step), with deterministic piece
    ids assigned by final-count-desc / piece-asc row number — the same
    rule the Spark entry's literal id map encodes."""
    parts = _unigram_learn_ctes(em_iters=em_iters)
    T = em_iters
    parts.append(f"""
    tte AS MATERIALIZED (
      SELECT CAST(SUM(c) AS DOUBLE) AS total FROM v{T}),
    pe AS MATERIALIZED (
      SELECT piece, CAST(c AS DOUBLE) / total AS p
      FROM v{T}, tte WHERE c > 0)""")
    parts.extend(_unigram_viterbi_ctes("e", "pe", "w0", 12, 4))
    parts.append(f"""
    ids AS MATERIALIZED (
      SELECT piece,
             CAST(ROW_NUMBER() OVER (ORDER BY c DESC, piece ASC) - 1
               AS INT) AS piece_id
      FROM v{T} WHERE c > 0)""")
    return (
        ",".join(parts)
        + """
    SELECT u.piece, i.piece_id, CAST(u.uc AS BIGINT) AS n_occurrences
    FROM ue u JOIN ids i ON i.piece = u.piece"""
    )


@query("text_unigram_learn", oracle=_unigram_learn_oracle_sql())
def text_unigram_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING on the cluster (operators/text.py:
    unigram_learn_vocab — the SentencePiece family next to BPE;
    Kudo 2018, hard-EM variant): seed with the 48 most frequent
    substrings up to length 4 plus every character, then 2 EM rounds
    of Viterbi-segment (one Arrow pass over the DISTINCT weighted
    vocabulary) + integer piece recount with a single-character count
    floor.  Probabilities exist only inside the Viterbi scores — one
    ``count/total`` division and one multiplication per DP edge, all
    correctly-rounded IEEE ops over exact integers in pinned order —
    and are never shipped; the oracle replays the identical EM rounds
    UNROLLED as materialized CTEs with per-position DP stages (the
    text_bpe_learn device), so the learned (piece, count) vocabulary
    matches bit-for-bit.  Scale: corpus reduces to distinct (word,
    count) first; every round is vocabulary-bounded, never
    corpus-bounded, and every collect is piece-vocabulary-sized."""
    from big_data_validator_spark.operators.text import (
        unigram_learn_vocab,
        word_tokens,
    )

    d = _t(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(word_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    vocab = unigram_learn_vocab(
        wc, num_pieces=48, max_piece_len=4, em_iters=2, max_word_len=12
    )
    return spark.createDataFrame(vocab, "piece string, piece_count long")


@query("text_unigram_encode", oracle=_unigram_encode_oracle_sql())
def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenization of the corpus (the APPLY half of the
    tokenizer family's second member, closing the learn→encode loop
    like text_bpe_learn→text_bpe_encode): retrain the vocabulary
    (deterministic, so both halves agree without a side channel), then
    Viterbi-segment the weighted vocabulary under the FINAL piece
    probabilities — one more Arrow pass, the same pinned-order DP —
    and histogram the emitted pieces with deterministic ids
    (final-count-desc, piece-asc).  The oracle extends the learn
    chain's unrolled CTEs by one probability CTE + one shared Viterbi
    block; token counts are integers end-to-end.  Scale: encoding cost
    is vocabulary-bounded (distinct words), never corpus-bounded; ids
    come from a literal map, zero extra joins Spark-side."""
    from big_data_validator_spark.operators.text import (
        unigram_learn_vocab,
        viterbi_pieces_kernel,
        word_tokens,
    )

    d = _t(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(word_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    vocab = unigram_learn_vocab(
        wc, num_pieces=48, max_piece_len=4, em_iters=2, max_word_len=12
    )
    total = sum(c for _, c in vocab)
    probs = {p: c / total for p, c in vocab}
    id_map = F.create_map(
        *[
            F.lit(x)
            for i, (p, _) in enumerate(vocab)
            for x in (p, i)
        ]
    )
    enc = wc.filter(F.length("w") <= 12).select(
        F.explode(viterbi_pieces_kernel(probs)(F.col("w"))).alias(
            "piece"
        ),
        "_n",
    )
    return (
        enc.groupBy("piece")
        .agg(F.sum("_n").cast("long").alias("n_occurrences"))
        .select(
            "piece",
            F.element_at(id_map, F.col("piece")).alias("piece_id"),
            "n_occurrences",
        )
    )


def _fs_em_ctes(iters: int = 3, extra_estep: bool = False) -> list:
    """GENERATE the Fellegi–Sunter EM CTE chain: candidate pairs via
    the same (name-token × size) blocking SQL as the linkage entry
    (per-pair agreements in ``pag``), the 8-pattern pivot, then
    ``iters`` EM iterations UNROLLED — per iteration one
    class-likelihood CTE (products ascending field), one
    responsibility CTE (single divisions), one parameter CTE (pattern
    sums folded ascending g, exactly the operator's pinned loop
    order).  With ``extra_estep`` a final responsibility stage
    ``w{iters+1}`` is appended (the classification posteriors).  Every
    float expression mirrors operators/linkage.py op-for-op, so DuckDB
    DOUBLEs equal the driver's Python floats."""
    k = 3
    # pattern g bit i = agreement of field i (brand, type, price band)
    parts = ["""
    WITH p AS MATERIALIZED (
      SELECT p_partkey AS id, p_brand, p_type,
             CAST(FLOOR(p_retailprice / 10) AS BIGINT) AS band,
             list_distinct(string_split(p_name, ' ')) AS toks, p_size
      FROM part),
    b AS MATERIALIZED (
      SELECT id, unnest(toks) AS tok, p_size FROM p),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.id AS id_a, c.id AS id_b
      FROM b a JOIN b c ON a.tok = c.tok AND a.p_size = c.p_size
                        AND a.id < c.id),
    pag AS MATERIALIZED (
      SELECT cand.id_a, cand.id_b,
             CAST(pa.p_brand = pb.p_brand AS INT) AS g1,
             CAST(pa.p_type = pb.p_type AS INT) AS g2,
             CAST(pa.band = pb.band AS INT) AS g3
      FROM cand JOIN p pa ON cand.id_a = pa.id
                JOIN p pb ON cand.id_b = pb.id),
    pat AS MATERIALIZED (
      SELECT g1, g2, g3, CAST(COUNT(*) AS BIGINT) AS n
      FROM pag GROUP BY 1, 2, 3),
    pv AS MATERIALIZED (
      SELECT """ + ",\n             ".join(
        f"COALESCE(MAX(CASE WHEN g1 = {g & 1} AND g2 = {(g >> 1) & 1} "
        f"AND g3 = {(g >> 2) & 1} THEN n END), 0) AS n{g}"
        for g in range(8)
    ) + """,
             CAST(""" + " + ".join(
        f"COALESCE(MAX(CASE WHEN g1 = {g & 1} AND g2 = {(g >> 1) & 1} "
        f"AND g3 = {(g >> 2) & 1} THEN n END), 0)"
        for g in range(8)
    ) + """ AS DOUBLE) AS nf
      FROM pat),
    it0 AS MATERIALIZED (
      SELECT CAST(0.5 AS DOUBLE) AS lam,
             CAST(0.9 AS DOUBLE) AS m1, CAST(0.9 AS DOUBLE) AS m2,
             CAST(0.9 AS DOUBLE) AS m3,
             CAST(0.1 AS DOUBLE) AS u1, CAST(0.1 AS DOUBLE) AS u2,
             CAST(0.1 AS DOUBLE) AS u3)"""]

    def like(g: int, cls: str) -> str:
        base = "lam" if cls == "m" else "(1.0 - lam)"
        fac = [base]
        for i in range(k):
            v = f"{cls}{i + 1}"
            fac.append(v if (g >> i) & 1 else f"(1.0 - {v})")
        return " * ".join(fac)

    for t in range(1, iters + 1):
        pm = ",\n             ".join(
            f"{like(g, 'm')} AS pm{g}" for g in range(8)
        )
        pu = ",\n             ".join(
            f"{like(g, 'u')} AS pu{g}" for g in range(8)
        )
        ws = ",\n             ".join(
            f"pm{g} / (pm{g} + pu{g}) AS w{g}" for g in range(8)
        )
        sm = " + ".join(f"n{g} * w{g}" for g in range(8))
        mnum = [
            " + ".join(
                f"n{g} * w{g}" for g in range(8) if (g >> i) & 1
            )
            for i in range(k)
        ]
        unum = [
            " + ".join(
                f"n{g} * (1.0 - w{g})" for g in range(8) if (g >> i) & 1
            )
            for i in range(k)
        ]
        clamp = (
            "LEAST(GREATEST({}, CAST(0.000001 AS DOUBLE)), "
            "1.0 - CAST(0.000001 AS DOUBLE))"
        )
        mu = ",\n             ".join(
            clamp.format(f"({mnum[i]}) / sm") + f" AS m{i + 1}"
            for i in range(k)
        ) + ",\n             " + ",\n             ".join(
            clamp.format(f"({unum[i]}) / su") + f" AS u{i + 1}"
            for i in range(k)
        )
        parts.append(f"""
    a{t} AS MATERIALIZED (
      SELECT {pm},
             {pu}
      FROM it{t - 1}),
    w{t} AS MATERIALIZED (
      SELECT {ws}
      FROM a{t}),
    s{t} AS MATERIALIZED (
      SELECT sm, nf - sm AS su FROM (
        SELECT {sm} AS sm, nf FROM w{t}, pv)),
    it{t} AS MATERIALIZED (
      SELECT LEAST(GREATEST(sm / nf, CAST(0.000001 AS DOUBLE)),
                  1.0 - CAST(0.000001 AS DOUBLE)) AS lam,
             {mu}
      FROM w{t}, s{t}, pv)""")
    if extra_estep:
        t = iters + 1
        pm = ",\n             ".join(
            f"{like(g, 'm')} AS pm{g}" for g in range(8)
        )
        pu = ",\n             ".join(
            f"{like(g, 'u')} AS pu{g}" for g in range(8)
        )
        ws = ",\n             ".join(
            f"pm{g} / (pm{g} + pu{g}) AS w{g}" for g in range(8)
        )
        parts.append(f"""
    a{t} AS MATERIALIZED (
      SELECT {pm},
             {pu}
      FROM it{t - 1}),
    w{t} AS MATERIALIZED (
      SELECT {ws}
      FROM a{t})""")
    return parts


def _fs_em_oracle_sql(iters: int = 3) -> str:
    parts = _fs_em_ctes(iters)
    fin = [
        "SELECT 'lambda' AS param, CAST(FLOOR(lam * 1000000.0) AS "
        f"BIGINT) AS value_ppm FROM it{iters}"
    ]
    for i, c in enumerate(["p_brand_eq", "p_type_eq", "band_eq"]):
        fin.append(
            f"SELECT 'm_{c}', CAST(FLOOR(m{i + 1} * 1000000.0) AS "
            f"BIGINT) FROM it{iters}"
        )
        fin.append(
            f"SELECT 'u_{c}', CAST(FLOOR(u{i + 1} * 1000000.0) AS "
            f"BIGINT) FROM it{iters}"
        )
    return ",".join(parts) + "\n    " + "\n    UNION ALL\n    ".join(fin)


def _fs_classify_oracle_sql(iters: int = 3) -> str:
    """The classify oracle: the EM chain + final E-step, then every
    pair stamped with its pattern's floor-quantized posterior and the
    integer-threshold verdict (match >= 900000 ppm > possible >=
    100000 ppm > non-match)."""
    parts = _fs_em_ctes(iters, extra_estep=True)
    t = iters + 1
    post = "CASE " + " ".join(
        f"WHEN g1 = {g & 1} AND g2 = {(g >> 1) & 1} "
        f"AND g3 = {(g >> 2) & 1} THEN w{g}"
        for g in range(8)
    ) + " END"
    return (
        ",".join(parts)
        + f"""
    SELECT id_a, id_b,
           g1 AS p_brand_eq, g2 AS p_type_eq, g3 AS band_eq,
           posterior_ppm,
           CASE WHEN posterior_ppm >= 900000 THEN 'match'
                WHEN posterior_ppm >= 100000 THEN 'possible'
                ELSE 'non_match' END AS verdict
    FROM (
      SELECT pag.*,
             CAST(FLOOR(({post}) * 1000000.0) AS BIGINT)
               AS posterior_ppm
      FROM pag, w{t})
    WHERE posterior_ppm >= 100000"""
    )


@query("link_fs_em", oracle=_fs_em_oracle_sql())
def link_fs_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record-linkage weight ESTIMATION (operators/
    linkage.py:fs_em_weights — Fellegi–Sunter EM, the Splink-style
    trainer that turns link_part_entities' fixed weights into
    data-estimated m/u probabilities + match prevalence λ): candidates
    blocked on (name token × size) — brand deliberately NOT blocked so
    non-match patterns exist for the u-side — agreement patterns over
    (brand, type, retail-price band) aggregate to ≤ 2³ integer counts, and 3
    EM iterations run over those counts alone (the classical
    sufficient statistic; bounded driver arithmetic like the BPE
    argmax).  The oracle replays the same blocking SQL and the EM
    unrolled with op-for-op pinned float order; shipped values are
    floor-quantized ppm BIGINTs.  Scale: the only join is the blocking
    equi-join through the capped bucket guard; the shuffle carries
    3-bit patterns."""
    from big_data_validator_spark.operators.dedup import release_pinned
    from big_data_validator_spark.operators.linkage import (
        fs_em_weights,
        link_entity_pairs,
    )

    part = _t(spark, sf_dir, "part").withColumn(
        "band", F.floor(F.col("p_retailprice") / 10).cast("long")
    )
    pairs = link_entity_pairs(
        part,
        id_col="p_partkey",
        name_col="p_name",
        block_cols=["p_size"],
        eq_cols=["p_brand", "p_type", "band"],
        threshold=0,
    )
    try:
        params = fs_em_weights(
            pairs,
            ["p_brand_eq", "p_type_eq", "band_eq"],
            iters=3,
        )
    finally:
        release_pinned(pairs)
    return spark.createDataFrame(params, "param string, value_ppm long")


@query("link_fs_classify", oracle=_fs_classify_oracle_sql())
def link_fs_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic pair CLASSIFICATION (operators/linkage.py:
    fs_classify_pairs — the decision step completing the Fellegi–
    Sunter loop link_fs_em opens): the same blocked candidates and the
    same EM over pattern counts, then one more E-step under the final
    parameters stamps every pair with its pattern's posterior match
    probability and the classical match / possible / non-match
    verdict.  Posteriors ship floor-quantized to ppm and the verdict
    compares INTEGERS against integer thresholds, so the three-way
    decision is engine-portable with no float-edge risk.  The entry
    ships the REVIEWABLE set (match + possible) — the non-match bulk
    stays distributed, exactly as a clerical-review pipeline consumes
    it; full three-way classification is pytest-pinned.  Scale: one
    blocking join + one pattern aggregation (bounded collect); the
    posterior stamp and threshold filter are map-side — no second
    shuffle."""
    from big_data_validator_spark.operators.dedup import release_pinned
    from big_data_validator_spark.operators.linkage import (
        fs_classify_pairs,
        link_entity_pairs,
    )

    part = _t(spark, sf_dir, "part").withColumn(
        "band", F.floor(F.col("p_retailprice") / 10).cast("long")
    )
    pairs = link_entity_pairs(
        part,
        id_col="p_partkey",
        name_col="p_name",
        block_cols=["p_size"],
        eq_cols=["p_brand", "p_type", "band"],
        threshold=0,
    ).cache()
    try:
        out = fs_classify_pairs(
            pairs,
            ["p_brand_eq", "p_type_eq", "band_eq"],
            iters=3,
        ).filter(F.col("verdict") != "non_match").select(
            "id_a",
            "id_b",
            "p_brand_eq",
            "p_type_eq",
            "band_eq",
            "posterior_ppm",
            "verdict",
        )
        res = D.materialize_release(out, pairs)
    finally:
        release_pinned(pairs)
        pairs.unpersist()
    return res


@query(
    "ts_theilsen_trend",
    oracle="""
    WITH d AS MATERIALIZED (
      SELECT CAST(date_diff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS y
      FROM orders GROUP BY 1),
    np AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS npr
      FROM d),
    p AS MATERIALIZED (
      SELECT b.y - a.y AS num, b.x - a.x AS den,
             CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
               AS qd
      FROM d a JOIN d b ON a.x < b.x),
    med AS MATERIALIZED (
      SELECT num, den FROM p ORDER BY qd, num, den
      LIMIT 1 OFFSET (SELECT (npr + 1) // 2 - 1 FROM np)),
    s AS MATERIALIZED (
      SELECT CAST(num * 1000000 // den AS BIGINT) AS slope FROM med),
    medr AS MATERIALIZED (
      SELECT r FROM (
        SELECT y * 1000000 - (SELECT slope FROM s) * x AS r FROM d)
      ORDER BY r
      LIMIT 1 OFFSET (SELECT (nd + 1) // 2 - 1 FROM np))
    SELECT nd AS n_days, npr AS n_pairs,
           (SELECT slope FROM s) AS slope_scaled,
           (SELECT r FROM medr) AS intercept_scaled,
           CAST(1000000 AS BIGINT) AS scale
    FROM np
    """,
)
def ts_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend of daily order revenue (operators/timeseries.py:
    theilsen_trend — Theil–Sen median-of-pairwise-slopes, the
    29%-breakdown estimator a metrics monitor wants where least
    squares chases one outlier day): daily totals in integer cents
    (floor of the double product — portable) over integer epoch-days,
    every pairwise slope an exact rational ordered by the portable
    (double quotient, num, den) composite key, lower-median slope and
    integer-residual intercept shipped as scaled BIGINTs.  Scale: the
    pair join is over the DAILY aggregate, so its size tracks the
    time span, not the data volume — 10× rows/day = the same pair
    stage; median selection is TakeOrdered, never a global window."""
    from big_data_validator_spark.operators.timeseries import (
        theilsen_trend,
    )

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("x")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    return theilsen_trend(daily, "x", "y", scale=1_000_000)


@query(
    "drift_wasserstein",
    oracle="""
    WITH pooled AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v,
             CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 1 ELSE 0 END AS ca,
             CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 0 ELSE 1 END AS cb
      FROM orders WHERE o_totalprice IS NOT NULL),
    cnts AS (SELECT v, SUM(ca) AS na, SUM(cb) AS nb
             FROM pooled GROUP BY v),
    cum AS (SELECT v, SUM(na) OVER w AS cuma, SUM(nb) OVER w AS cumb,
                   LEAD(v) OVER w AS nextv
            FROM cnts WINDOW w AS (ORDER BY v)),
    tot AS (SELECT SUM(na) AS n_a, SUM(nb) AS n_b FROM cnts),
    joined AS (SELECT c.*, t.n_a, t.n_b FROM cum c, tot t
               WHERE c.nextv IS NOT NULL)
    SELECT ROUND(CAST(SUM(ABS(CAST(cuma AS HUGEINT) * n_b
                              - CAST(cumb AS HUGEINT) * n_a)
                          * (nextv - v)) AS DOUBLE)
                 / (CAST(ANY_VALUE(n_a) AS DOUBLE)
                    * CAST(ANY_VALUE(n_b) AS DOUBLE) * 100.0), 6)
             AS w1_stat,
           CAST(ANY_VALUE(n_a) AS BIGINT) AS n_a,
           CAST(ANY_VALUE(n_b) AS BIGINT) AS n_b
    FROM joined
    """,
)
def drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 1-D Wasserstein-1 (earth mover's) drift between urgent- and
    normal-priority order amounts (operators/relational.py:
    wasserstein_1d) — the drift measure that weighs HOW FAR the mass
    moved where KS only sees the largest CDF gap.  Values enter as
    integer cents, so every CDF-gap term ``|cuma·n_b − cumb·n_a| · gap``
    is an exact integer accumulated in DECIMAL(38,0) (the emb_near_dup
    discipline); no float exists until the single final division.  The
    prefix sums are ``operators.block_scan``, as in drift_ks_totalprice,
    and summing by parts removes each value's successor — never a
    single-task global window; bin_width only sets block granularity
    (pytest-pinned invariant)."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    cents = o.withColumn(
        "cents", F.round(F.col("o_totalprice") * 100, 0).cast("long")
    )
    return D.materialize_release(
        R.wasserstein_1d(
            cents.filter(urgent),
            cents.filter(~urgent),
            "cents",
            bin_width=1_000_000,
            unit_scale=100.0,
        )
    )


@query(
    "agg_winsorized_stats",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS g,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    cnts AS (SELECT g, v, COUNT(*) AS c FROM base GROUP BY 1, 2),
    cum AS (
      SELECT g, v, c,
             SUM(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
             SUM(c) OVER (PARTITION BY g) AS n
      FROM cnts),
    cuts AS (
      SELECT g,
             MIN(CASE WHEN cm >= (10000 * n + 999999) // 1000000
                      THEN v END) AS lo_cut,
             MIN(CASE WHEN cm >= (990000 * n + 999999) // 1000000
                      THEN v END) AS hi_cut,
             ANY_VALUE(n) AS n_rows
      FROM cum GROUP BY 1),
    clamped AS (
      SELECT c0.g, t.n_rows, t.lo_cut, t.hi_cut,
             SUM(CAST(GREATEST(LEAST(c0.v, t.hi_cut), t.lo_cut)
                      AS HUGEINT) * c0.c) AS ws
      FROM cnts c0 JOIN cuts t ON t.g = c0.g
      GROUP BY 1, 2, 3, 4)
    SELECT g AS o_orderpriority, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(lo_cut AS BIGINT) AS lo_cut,
           CAST(hi_cut AS BIGINT) AS hi_cut,
           CAST((ws * 1000000) // n_rows AS BIGINT)
             AS winsorized_mean_scaled,
           CAST(1000000 AS BIGINT) AS scale
    FROM clamped
    """,
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of order value (cents) per priority
    (operators/relational.py: winsorized_group_stats): P1/P99 clamping
    — the robust location estimate that keeps outliers IN but caps
    their leverage, beside the trimmed-mean UDAF (drops tails) and the
    median/MAD rule (ignores magnitude).  ONE data shuffle to
    (group, value) counts; the exact lower-quantile cuts AND the
    clamped sum both compute on that shrunken frame (group-partitioned
    windows, parallel across groups — never a second data scan or a
    global sort), and every shipped number is exact integer arithmetic
    (DECIMAL(38,0) sum, truncating-div mean both engines share)."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    cents = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("cents"),
    )
    return D.materialize_release(
        R.winsorized_group_stats(
            cents, "o_orderpriority", "cents",
            lo_ppm=10_000, hi_ppm=990_000,
        )
    )


@query(
    "drift_mannwhitney",
    oracle="""
    WITH pooled AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v,
             CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 1 ELSE 0 END AS ca,
             CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 0 ELSE 1 END AS cb
      FROM orders WHERE o_totalprice IS NOT NULL),
    cnts AS (SELECT v, SUM(ca) AS na, SUM(cb) AS nb
             FROM pooled GROUP BY v),
    ord AS (
      SELECT v, na, nb, na + nb AS t,
             COALESCE(SUM(na + nb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS c
      FROM cnts),
    agg AS (
      SELECT CAST(SUM(na) AS BIGINT) AS n_a,
             CAST(SUM(nb) AS BIGINT) AS n_b,
             SUM(CAST(na AS HUGEINT)
                 * (2 * CAST(c AS HUGEINT) + t + 1)) AS r2a,
             SUM(CAST(t AS HUGEINT) * t * t - t) AS ties
      FROM ord),
    fin AS (
      SELECT n_a, n_b, ties,
             CAST(r2a - CAST(n_a AS HUGEINT)
                        * (CAST(n_a AS HUGEINT) + 1) AS BIGINT)
               AS u_a_x2
      FROM agg),
    vr AS (
      SELECT *,
             CAST(n_a AS DOUBLE) * n_b / 12.0
             * ((n_a + n_b + 1)
                - CAST(ties AS DOUBLE)
                  / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))
               AS var
      FROM fin)
    SELECT n_a, n_b, u_a_x2,
           CAST(2 * CAST(n_a AS HUGEINT) * n_b AS BIGINT) - u_a_x2
             AS u_b_x2,
           CASE WHEN n_a + n_b > 1 AND var > 0 THEN
             ROUND((CAST(u_a_x2 AS DOUBLE)
                    - CAST(n_a AS DOUBLE) * n_b)
                   / (2.0 * SQRT(var)), 6)
           END AS z
    FROM vr
    """,
)
def drift_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Mann–Whitney U rank-sum drift between urgent- and
    normal-priority order amounts (operators/relational.py:
    mannwhitney_u) — the rank-based member completing the drift family:
    KS sees the largest CDF gap, W1 the mass displacement, U the
    stochastic ordering (P[urgent > normal] shifted from ½), robust to
    any monotone value transform.  Doubled midranks make every tie
    group an exact integer (2C+t+1), so 2·R_a and 2·U accumulate in
    DECIMAL(38,0) with no float midranks; the tie-corrected normal z
    is the only float, round-6.  Same ``operators.block_scan`` over
    per-value counts as the KS/W1 siblings; never a single-task global
    window."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    cents = o.withColumn(
        "cents", F.round(F.col("o_totalprice") * 100, 0).cast("long")
    )
    return D.materialize_release(
        R.mannwhitney_u(
            cents.filter(urgent),
            cents.filter(~urgent),
            "cents",
            bin_width=1_000_000,
        )
    )


@query(
    "drift_cvm",
    oracle="""
    WITH pooled AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v,
             CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 1 ELSE 0 END AS ca,
             CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 0 ELSE 1 END AS cb
      FROM orders WHERE o_totalprice IS NOT NULL),
    cnts AS (SELECT v, SUM(ca) AS na, SUM(cb) AS nb
             FROM pooled GROUP BY v),
    ord AS (
      SELECT na, nb, na + nb AS t,
             COALESCE(SUM(na + nb) OVER w, 0) AS c,
             COALESCE(SUM(na) OVER w, 0) AS ap
      FROM cnts
      WINDOW w AS (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    d AS (
      SELECT na, nb,
             2 * CAST(c AS HUGEINT) + t + 1
               - 2 * CAST(ap AS HUGEINT) AS d0a,
             2 * CAST(c AS HUGEINT) + t + 1
               - 2 * (CAST(c AS HUGEINT) - ap) AS d0b
      FROM ord),
    agg AS (
      SELECT CAST(COALESCE(SUM(na), 0) AS BIGINT) AS n_a,
             CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS n_b,
             SUM(3 * CAST(na AS HUGEINT) * d0a * d0a
                 - 6 * d0a * CAST(na AS HUGEINT) * (na + 1)
                 + 2 * CAST(na AS HUGEINT) * (na + 1)
                   * (2 * CAST(na AS HUGEINT) + 1)) AS sa,
             SUM(3 * CAST(nb AS HUGEINT) * d0b * d0b
                 - 6 * d0b * CAST(nb AS HUGEINT) * (nb + 1)
                 + 2 * CAST(nb AS HUGEINT) * (nb + 1)
                   * (2 * CAST(nb AS HUGEINT) + 1)) AS sb
      FROM d)
    SELECT n_a, n_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             ROUND(CAST(CAST(n_a AS HUGEINT) * sa
                        + CAST(n_b AS HUGEINT) * sb AS DOUBLE)
                   / CAST(12 * CAST(n_a AS HUGEINT) * n_b
                          * (n_a + n_b) AS DOUBLE)
                   - CAST(4 * CAST(n_a AS HUGEINT) * n_b - 1 AS DOUBLE)
                   / CAST(6 * (CAST(n_a AS HUGEINT) + n_b) AS DOUBLE),
                   6)
           END AS cvm_t
    FROM agg
    """,
)
def drift_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Cramér–von Mises T between urgent- and
    normal-priority order amounts (operators/relational.py:
    cramer_von_mises — Anderson 1962 rank form) on the SAME pooled
    cents frame as drift_mannwhitney, completing the drift family's
    whole-CDF member: KS sees the single largest CDF gap, W1 the total
    mass displacement, U the stochastic ordering — CvM integrates the
    SQUARED CDF gap over the pooled sample, so many small distributed
    discrepancies that never open one big gap still register.  Doubled
    midranks (2C+t+1) make every tie group's Σ3(2r−2i)² a closed-form
    pure-integer expression in DECIMAL(38,0) — no division anywhere
    until the two final exact-integer quotients (IEEE-identical across
    engines, round-6).  Same ``operators.block_scan`` over per-value
    counts as the KS/W1/U siblings — never a single-task global
    window."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    cents = o.withColumn(
        "cents", F.round(F.col("o_totalprice") * 100, 0).cast("long")
    )
    return D.materialize_release(
        R.cramer_von_mises(
            cents.filter(urgent),
            cents.filter(~urgent),
            "cents",
            bin_width=1_000_000,
        )
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events),
    t AS (SELECT src, dst, COUNT(*) AS n FROM seq
          WHERE dst IS NOT NULL GROUP BY 1, 2)
    SELECT src, dst, CAST(n AS BIGINT) AS n_trans,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src), 6)
             AS p
    FROM t ORDER BY src, dst
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (operators/events_analytics.py: markov_transitions):
    every adjacent ``src → dst`` pair a user emits, with the
    row-conditional probability P(dst | src) — the behavioral
    fingerprint a release-over-release drift monitor compares (a
    checkout flow whose click→purchase rate halves is broken even when
    every per-event count looks normal).  One lead window partitioned
    by user (the funnel family's partitioning, fully parallel), then a
    groupBy whose cardinality is |event types|² — the conditional
    window runs over a few dozen rows at ANY data scale.  Ordering
    inside a user is (ts, event_id), the registry's tie-break
    convention."""
    from big_data_validator_spark.operators.events_analytics import (
        markov_transitions,
    )

    ev = _t(spark, sf_dir, "events")
    return markov_transitions(ev)


@query(
    "rule_monotonic_orderdate",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderkey) AS prev_d,
             o_orderdate AS d
      FROM orders)
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE prev_d IS NOT NULL
                                 AND d IS NOT NULL) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) FILTER (WHERE prev_d > d) AS BIGINT)
             AS n_inversions
    FROM seq GROUP BY 1
    HAVING COUNT(*) FILTER (WHERE prev_d > d) > 0
    """,
)
def rule_monotonic_orderdate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-monotonicity rule (operators/relational.py:
    order_inversions): per customer, ordered by the surrogate key
    ``o_orderkey``, count adjacent pairs where ``o_orderdate`` DECREASES
    — the "key order must respect event time" CDC/ingest sanity check
    (an inversion is a late or out-of-order write).  One lag window
    partitioned by the customer key — fully parallel, no global sort —
    then a per-group aggregate; only violating groups return (the
    violations-only rule_* convention)."""
    o = _t(spark, sf_dir, "orders")
    return R.order_inversions(
        o, "o_custkey", "o_orderkey", "o_orderdate"
    ).select(
        F.col("part").alias("o_custkey"),
        "n_rows",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_inversions").cast("long").alias("n_inversions"),
    )


@query(
    "dedup_ngram_containment",
    oracle="""
    WITH d AS (
      SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 150
    ),
    shingles AS (
      SELECT DISTINCT doc_id, substr(t, s, 5) AS sh
      FROM d, (SELECT unnest(generate_series(1, 4000)) AS s) g
      WHERE s <= len(t) - 4
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(common AS DOUBLE) / sa.sz, 6) AS cont_a_in_b,
           ROUND(CAST(common AS DOUBLE) / sb.sz, 6) AS cont_b_in_a
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE GREATEST(CAST(common AS DOUBLE) / sa.sz,
                   CAST(common AS DOUBLE) / sb.sz) >= 0.5
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs (operators/dedup.py:
    ngram_containment_pairs) on the same bounded sub-corpus as
    dedup_ngram_jaccard — the asymmetric subset-duplication screen:
    ``|∩|/|A|`` ≈ 1 flags a short document quoted verbatim inside a
    long one, exactly the pair a Jaccard threshold ships twice because
    the union is dominated by the long side.  Same inverted-index plan
    (shared-shingle candidates only, never pairwise in the corpus);
    the prefix-filter device (any ⌊(1−t)·|A|⌋+1 shingles of A must hit
    B) carries it to corpus scale."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return D.materialize_release(
        D.ngram_containment_pairs(docs, n=5, threshold=0.5)
    )


@query(
    "sim_hybrid_rrf",
    oracle="""
    WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
    shingles AS (
      SELECT DISTINCT doc_id, substr(t, s, 5) AS sh
      FROM d, (SELECT unnest(generate_series(1, 4000)) AS s) g
      WHERE s <= len(t) - 4),
    qsh AS (SELECT * FROM shingles WHERE doc_id < 5),
    lex AS (
      SELECT q.doc_id AS query_id, c.doc_id AS vec_id, COUNT(*) AS common
      FROM shingles c JOIN qsh q ON c.sh = q.sh AND c.doc_id <> q.doc_id
      GROUP BY 1, 2),
    lexr AS (
      SELECT query_id, vec_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY common DESC, vec_id ASC) AS INT) AS rank_lex
      FROM lex),
    qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
           FROM embeddings WHERE vec_id < 5),
    dense AS (
      SELECT * FROM (
        SELECT query_id, vec_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY ROUND(list_cosine_similarity(
                               CAST(e.embedding AS DOUBLE[]), qvec), 6) DESC,
                             vec_id ASC) AS INT) AS rank_dense
        FROM embeddings e, qv WHERE e.vec_id <> query_id)
      WHERE rank_dense <= 100),
    fused AS (
      SELECT COALESCE(l.query_id, dn.query_id) AS query_id,
             COALESCE(l.vec_id, dn.vec_id) AS vec_id,
             l.rank_lex, dn.rank_dense,
             ROUND(COALESCE(1.0 / (60 + l.rank_lex), 0)
                   + COALESCE(1.0 / (60 + dn.rank_dense), 0), 6)
               AS rrf_score
      FROM lexr l FULL OUTER JOIN dense dn
        ON l.query_id = dn.query_id AND l.vec_id = dn.vec_id)
    SELECT query_id, vec_id, rank_lex, rank_dense, rrf_score,
           CAST(fr AS INT) AS fused_rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY rrf_score DESC, vec_id ASC) AS fr
      FROM fused) WHERE fr <= 10
    """,
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid dense+lexical retrieval via reciprocal-rank fusion
    (operators/similarity.py: hybrid_lexical_dense_rrf + rrf_fuse):
    the shared-5-gram lexical ranking and the embedding-cosine dense
    ranking fused as ``Σ 1/(60 + rank)`` over the lists containing the
    candidate — the SIGIR-2009 combiner hybrid search deploys because
    the two signals fail differently (lexical misses paraphrase, dense
    misses rare exact tokens).  Both scoring passes broadcast the tiny
    query side and stream the corpus ONCE; lexical candidates are
    postings-bounded (docs sharing ≥1 shingle), never corpus-pairwise;
    the DENSE list is truncated to the top-100 per query
    (``dense_top_m=100``; the missing-member convention makes
    truncated lists fusable — the downstream fusion/rank frames
    carry |queries|·100 rows, not |queries|·|corpus|; the oracle
    applies the identical bound, and
    tests/test_similarity_multimodal.py pins that the bounded plan
    matches the full ranking at the fused cutoff); the fusion join and
    every rank window share one query-key partitioning.  Ranks are
    exact integers on round-6 scores with id tie-breaks — the
    cross-engine rank-determinism device."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    out = S.hybrid_lexical_dense_rrf(
        docs, emb, lambda c: c < 5, n=5, k=10, rrf_k=60,
        dense_top_m=100,
    )
    return out.select(
        "query_id",
        "vec_id",
        "rank_lex",
        "rank_dense",
        "rrf_score",
        "fused_rank",
    )


@query(
    "events_survival_km",
    oracle="""
    WITH ud AS (
      SELECT user_id,
             MIN(ts) AS first_ts,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase,
             MAX(ts) AS last_ts
      FROM events GROUP BY 1),
    durs AS (
      SELECT CASE WHEN first_purchase IS NOT NULL
                  THEN CAST(date_diff('day', CAST(first_ts AS DATE),
                            CAST(first_purchase AS DATE)) AS INT)
                  ELSE CAST(date_diff('day', CAST(first_ts AS DATE),
                            CAST(last_ts AS DATE)) AS INT) END AS t,
             first_purchase IS NOT NULL AS obs
      FROM ud),
    per_t AS (SELECT t, SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS d,
                     COUNT(*) AS alln
              FROM durs GROUP BY t),
    ar AS (SELECT t, d,
                  SUM(alln) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                                  AND UNBOUNDED FOLLOWING) AS n
           FROM per_t),
    steps AS (SELECT t, n, d FROM ar WHERE d > 0),
    km AS (SELECT t, n, d,
           MAX(CASE WHEN d >= n THEN 1 ELSE 0 END) OVER w AS deadflag,
           SUM(CASE WHEN d < n
               THEN LN(1 - CAST(d AS DOUBLE)/n) END) OVER w AS lsum
           FROM steps WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW))
    SELECT t, CAST(n AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_deaths,
           CASE WHEN deadflag = 1 THEN 0.0
                ELSE ROUND(EXP(lsum), 6) END AS survival
    FROM km ORDER BY t
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier time-to-first-purchase survival
    (operators/events_analytics.py: survival_km): per user, the days
    from first activity to first purchase, right-censored at the last
    observed event for users who never purchase — the estimator that
    answers "what fraction converts within t days?" correctly when
    subjects are still live (a naive churn cut can't).  One aggregate
    collapses users to per-duration (deaths, totals) rows; the at-risk
    reverse cumsum and the exp(Σ ln) survival product run over that
    duration-span-bounded tiny frame (the rolling-anomaly family's
    deliberate single-partition window), never over raw events.  The
    terminal d == n step is exact (survival 0, no ln(0))."""
    from big_data_validator_spark.operators.events_analytics import (
        survival_km,
    )

    ev = _t(spark, sf_dir, "events")
    ud = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
        F.max("ts").alias("last_ts"),
    )
    durs = ud.select(
        F.when(
            F.col("first_purchase").isNotNull(),
            F.datediff(F.to_date("first_purchase"), F.to_date("first_ts")),
        )
        .otherwise(
            F.datediff(F.to_date("last_ts"), F.to_date("first_ts"))
        )
        .alias("t"),
        F.col("first_purchase").isNotNull().alias("obs"),
    )
    return survival_km(durs, "t", "obs")


@query(
    "agg_time_decayed_value",
    oracle="""
    WITH maxd AS (SELECT MAX(o_orderdate) AS md FROM orders),
    base AS (
      SELECT o_custkey,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
             CAST(date_diff('day', o_orderdate,
                  (SELECT md FROM maxd)) // 365 AS INT) AS age
      FROM orders)
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST((SUM(CAST(cents AS HUGEINT)
                     * (CAST(1 AS HUGEINT) << (32 - LEAST(age, 32))))
                 * 2000000 + 429496729600) // 858993459200 AS DOUBLE)
             / 1000000.0 AS decayed_value
    FROM base GROUP BY 1
    """,
)
def agg_time_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT recency-decayed customer value (operators/relational.py:
    time_decayed_group_value): Σ order-cents · 2^−age_years with a
    one-year half-life — each weight an exact binary rational applied
    as a long shift into DECIMAL(38,0), so the scaled aggregate is an
    exact integer on any engine; the float ``pow(0.5, age)`` a naive
    scorer uses never appears.  Row-local weights (the reference date
    is a broadcast 1-row aggregate), then ONE map-side-combined groupBy
    — the only shuffle carries (custkey, decimal) partials."""
    o = _t(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("_md"))
    base = o.crossJoin(F.broadcast(maxd)).select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("cents"),
        F.floor(
            F.datediff(F.col("_md"), F.col("o_orderdate")) / 365
        ).alias("age"),
    )
    return R.time_decayed_group_value(
        base, "o_custkey", "cents", "age", max_shift=32
    )


@query(
    "rule_conversion_ztest",
    oracle="""
    WITH uw AS (
      SELECT user_id, date_trunc('week', ts) AS wk,
             MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS err,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY 1, 2),
    agg AS (
      SELECT SUM(err) AS n1, SUM(err * conv) AS x1,
             SUM(1 - err) AS n0, SUM((1 - err) * conv) AS x0
      FROM uw)
    SELECT CAST(n1 AS BIGINT) AS n_error_weeks,
           CAST(x1 AS BIGINT) AS conv_error_weeks,
           CAST(n0 AS BIGINT) AS n_clean_weeks,
           CAST(x0 AS BIGINT) AS conv_clean_weeks,
           ROUND(CAST(x1 AS DOUBLE) / n1, 6) AS p_error,
           ROUND(CAST(x0 AS DOUBLE) / n0, 6) AS p_clean,
           ROUND((CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
                 / SQRT((CAST(x1 + x0 AS DOUBLE) / (n1 + n0))
                        * (1 - CAST(x1 + x0 AS DOUBLE) / (n1 + n0))
                        * (1.0 / n1 + 1.0 / n0)), 6) AS z_stat
    FROM agg
    """,
)
def rule_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: does a user-week containing an error
    event convert (purchase that week) at a different rate than a
    clean user-week?  The monitoring rule that turns "errors seem to
    depress checkout" into a significance statement — all counts exact
    integers from ONE (user, week) aggregate + one global fold; the
    z statistic is pure IEEE arithmetic on those exact counts, round-6
    (cross-engine deterministic).  Per-user-week units keep both arms
    populated where per-user flags degenerate (every long-lived user
    eventually sees one error)."""
    ev = _t(spark, sf_dir, "events")
    uw = ev.groupBy(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).agg(
        F.max(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("err"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    agg = uw.agg(
        F.sum("err").alias("n1"),
        F.sum(F.col("err") * F.col("conv")).alias("x1"),
        F.sum(1 - F.col("err")).alias("n0"),
        F.sum((1 - F.col("err")) * F.col("conv")).alias("x0"),
    )
    n1, x1, n0, x0 = (F.col(c).cast("double") for c in ("n1", "x1", "n0", "x0"))
    pooled = (x1 + x0) / (n1 + n0)
    return agg.select(
        F.col("n1").cast("long").alias("n_error_weeks"),
        F.col("x1").cast("long").alias("conv_error_weeks"),
        F.col("n0").cast("long").alias("n_clean_weeks"),
        F.col("x0").cast("long").alias("conv_clean_weeks"),
        F.round(x1 / n1, 6).alias("p_error"),
        F.round(x0 / n0, 6).alias("p_clean"),
        F.round(
            (x1 / n1 - x0 / n0)
            / F.sqrt(
                pooled * (1 - pooled) * (1.0 / n1 + 1.0 / n0)
            ),
            6,
        ).alias("z_stat"),
    )


def _attribution_oracle(
    channels: tuple = ("click", "error", "signup", "view"),
    conversion: str = "purchase",
    horizon: int = 8,
) -> str:
    """Generate the removal-attribution oracle: the same fixed-horizon
    value iteration the Spark operator runs, UNROLLED as one CTE per
    step (the text_bpe_learn oracle-generation device) — identical
    arithmetic on identical transition probabilities, so the two
    engines agree to float noise far below round-6."""
    scen_vals = ", ".join(
        f"('{c}')" for c in ("__FULL__",) + tuple(channels)
    )
    iters = []
    prev = "it0"
    for k in range(1, horizon + 1):
        iters.append(f"""
    it{k} AS (
      SELECT t.scenario, t.src AS state, SUM(t.p * v.vp) AS vp
      FROM t JOIN {prev} v ON v.scenario = t.scenario
                          AND v.state = t.dst
      GROUP BY 1, 2
      UNION ALL SELECT scenario, '{conversion}' AS state, 1.0 AS vp
      FROM scen)""")
        prev = f"it{k}"
    return f"""
    WITH seq AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos,
             event_type AS e
      FROM events),
    j AS (
      SELECT s.user_id, s.pos, s.e
      FROM seq s LEFT JOIN (
        SELECT user_id, MIN(pos) AS ppos FROM seq
        WHERE e = '{conversion}' GROUP BY 1) f USING (user_id)
      WHERE f.ppos IS NULL OR s.pos <= f.ppos),
    trans AS (
      SELECT e AS src,
             LEAD(e) OVER (PARTITION BY user_id ORDER BY pos) AS dst
      FROM j),
    edges AS (
      SELECT 'START' AS src, e AS dst FROM j WHERE pos = 1
      UNION ALL
      SELECT src, dst FROM trans WHERE dst IS NOT NULL
      UNION ALL
      SELECT src, 'END' AS dst FROM trans
      WHERE dst IS NULL AND src <> '{conversion}'),
    counts AS (SELECT src, dst, COUNT(*) AS n FROM edges GROUP BY 1, 2),
    scen AS (SELECT * FROM (VALUES {scen_vals}) AS sv(scenario)),
    scc AS (
      SELECT scenario, src,
             CASE WHEN dst = scenario THEN 'END' ELSE dst END AS dst,
             SUM(n) AS n
      FROM counts, scen WHERE src <> scenario
      GROUP BY 1, 2, 3),
    t AS (SELECT scenario, src, dst,
                 CAST(n AS DOUBLE)
                   / SUM(n) OVER (PARTITION BY scenario, src) AS p
          FROM scc),
    it0 AS (SELECT scenario, '{conversion}' AS state, 1.0 AS vp
            FROM scen),{",".join(iters)[1:]},
    final AS (
      SELECT s.scenario, COALESCE(f.vp, 0.0) AS p
      FROM scen s LEFT JOIN (
        SELECT scenario, vp FROM it{horizon} WHERE state = 'START') f
      USING (scenario)),
    eff AS (
      SELECT f.scenario AS channel,
             (SELECT p FROM final WHERE scenario = '__FULL__') AS pf,
             f.p AS pr
      FROM final f WHERE f.scenario <> '__FULL__')
    SELECT channel, ROUND(pf, 6) AS p_full, ROUND(pr, 6) AS p_removed,
           ROUND(1 - pr / pf, 6) AS removal_effect,
           ROUND((1 - pr / pf) / SUM(1 - pr / pf) OVER (), 6)
             AS attribution_share
    FROM eff ORDER BY channel
    """


@query("events_attribution_removal", oracle=_attribution_oracle())
def events_attribution_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect channel attribution
    (operators/events_analytics.py: removal_attribution): per-user
    journeys truncated at first purchase feed a first-order absorbing
    chain; each channel's causal share is how much the START→purchase
    absorption probability drops when that channel's inbound edges
    redirect to the null sink — last-touch attribution's principled
    replacement (Anderl et al. 2014).  Absorption runs as a FIXED
    8-step value iteration so the DuckDB oracle is the SAME unrolled
    arithmetic (one CTE per step, the text_bpe_learn device), never a
    matrix solve two engines would do differently.  One events pass
    (user-key window + aggregate to ≤(channels+2)² transition counts —
    the bounded sufficient statistic); the scenarios × iterations run
    driver-side over that collected frame (the Theil–Sen/FS-EM
    driver-loop regime — ~40 tiny Spark stages bought nothing but
    latency), so the entry is data-volume-independent past the one
    pass."""
    from big_data_validator_spark.operators.events_analytics import (
        removal_attribution,
    )

    ev = _t(spark, sf_dir, "events")
    return removal_attribution(
        ev, channels=["click", "error", "signup", "view"], horizon=8
    )


@query(
    "text_pmi_collocations",
    oracle="""
    WITH toks AS (
      SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents),
    pairs AS (
      SELECT t[i] AS l, t[i + 1] AS r
      FROM toks, (SELECT unnest(generate_series(1, 100000)) AS i) g
      WHERE i <= len(t) - 1),
    counts AS (SELECT l, r, COUNT(*) AS c FROM pairs GROUP BY 1, 2),
    marg AS (
      SELECT l, r, c,
             SUM(c) OVER (PARTITION BY l) AS cl,
             SUM(c) OVER (PARTITION BY r) AS cr,
             SUM(c) OVER () AS n
      FROM counts),
    cand AS (
      SELECT l || ' ' || r AS bigram,
             CAST(c AS BIGINT) AS pair_count,
             CAST(cl AS BIGINT) AS left_count,
             CAST(cr AS BIGINT) AS right_count,
             c * n AS num, cl * cr AS den,
             CAST(c * n AS DOUBLE) / CAST(cl * cr AS DOUBLE) AS qd
      FROM marg WHERE c >= 10)
    SELECT bigram, pair_count, left_count, right_count,
           ROUND(LN(qd), 6) AS pmi
    FROM cand
    ORDER BY qd DESC, num DESC, den ASC, bigram ASC
    LIMIT 20
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information
    (operators/text.py: pmi_collocations — Church & Hanks 1990):
    PMI = ln(c(x,y)·N / (c_l(x)·c_r(y))) over adjacent word pairs with
    a min-count floor, the extractor that surfaces "los angeles" over
    "of the" where raw bigram counts cannot.  The top-k cut orders by
    the EXACT integer cross-ratio under the portable (double-quotient,
    num, den, bigram) composite key — the ts_theilsen_trend ordering
    device — so no float-log precision ever decides the cut; ln enters
    only the shipped round-6 value.  One tokenize pass, one
    distinct-bigram shuffle, marginals as window sums over that same
    aggregated relation, TakeOrderedAndProject."""
    from big_data_validator_spark.operators.text import pmi_collocations

    docs = _rb(_t(spark, sf_dir, "documents"))
    return pmi_collocations(docs, min_count=10, top_k=20)


def _markov_stream_source(spark: SparkSession, sf_dir: str) -> str:
    """The 4-run streaming source for the Markov-drift drain: runs 0/1
    are untouched user cohorts (calm, TV ≈ 0.03), run 2 remaps
    click→error, run 3 drops purchases — the two transition-level
    regime shifts a behavioral monitor exists to catch."""

    def runs() -> list:
        ev = _t(spark, sf_dir, "events").select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            (F.col("user_id") % 4).alias("_run"),
        )
        staged = ev.filter(
            ~((F.col("_run") == 3) & (F.col("event_type") == "purchase"))
        ).withColumn(
            "event_type",
            F.when(
                (F.col("_run") == 2) & (F.col("event_type") == "click"),
                F.lit("error"),
            ).otherwise(F.col("event_type")),
        )
        return [staged.filter(F.col("_run") == r).drop("_run") for r in range(4)]

    return _staged_runs(spark, sf_dir, "markov", runs)


@query(
    "streaming_markov_drift",
    oracle="""
    WITH runs AS (
      SELECT user_id % 4 AS run_id, user_id, ts, event_id,
             CASE WHEN user_id % 4 = 2 AND event_type = 'click'
                  THEN 'error' ELSE event_type END AS e
      FROM events
      WHERE NOT (user_id % 4 = 3 AND event_type = 'purchase')),
    rtrans AS (
      SELECT run_id, e AS src,
             LEAD(e) OVER (PARTITION BY run_id, user_id
                           ORDER BY ts, event_id) AS dst
      FROM runs),
    rcnt AS (SELECT run_id, src, dst, COUNT(*) AS n FROM rtrans
             WHERE dst IS NOT NULL GROUP BY 1, 2, 3),
    rtot AS (SELECT run_id, SUM(n) AS t FROM rcnt GROUP BY 1),
    btrans AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events),
    bcnt AS (SELECT src, dst, COUNT(*) AS n FROM btrans
             WHERE dst IS NOT NULL GROUP BY 1, 2),
    base AS (SELECT src, dst,
                    n / (SELECT CAST(SUM(n) AS DOUBLE) FROM bcnt)
                      AS p_base
             FROM bcnt),
    runids(rid) AS (VALUES (0), (1), (2), (3)),
    bgrid AS (SELECT rid AS run_id, src, dst, p_base FROM base, runids),
    runp AS (SELECT r.run_id, r.src, r.dst,
                    r.n / CAST(t.t AS DOUBLE) AS p_run
             FROM rcnt r JOIN rtot t USING (run_id)),
    cells AS (
      SELECT COALESCE(b.run_id, r.run_id) AS run_id,
             COALESCE(b.src, r.src) AS src,
             COALESCE(b.dst, r.dst) AS dst,
             COALESCE(b.p_base, 0) AS p_base,
             COALESCE(r.p_run, 0) AS p_run
      FROM bgrid b FULL OUTER JOIN runp r
        ON b.run_id = r.run_id AND b.src = r.src AND b.dst = r.dst)
    SELECT CAST(run_id AS BIGINT) AS run_id, src, dst,
           ROUND(p_base, 6) AS p_base, ROUND(p_run, 6) AS p_run,
           ROUND(0.5 * ABS(p_run - p_base), 6) AS tv_term
    FROM cells ORDER BY run_id, src, dst
    """,
)
def streaming_markov_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING behavioral-drift monitor, oracle-checked end-to-end
    (streaming/validate_stream.py: stream_markov_drift): each
    micro-batch's first-order transition matrix scores cell-by-cell
    against the static healthy-traffic matrix as total-variation terms,
    appended under the exactly-once batch-id commit protocol with
    batch_id == run_id.  Runs 0/1 are untouched cohorts (TV ≈ 0.03);
    run 2 remaps click→error and run 3 drops purchases — transition-
    level regime shifts per-event-count monitors cannot see (TV ≈
    0.38/0.36).  The baseline matrix folds into each batch plan as a
    ≤|types|²-row literal grid (the stream_drift_psi histogram device);
    each batch is one user-key window pass + one (src,dst) aggregate."""
    from big_data_validator_spark.streaming.validate_stream import (
        read_metrics_repository,
        stream_markov_drift,
    )

    src = _markov_stream_source(spark, sf_dir)
    baseline = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return _bounded_drain(
        spark,
        "streaming_markov_drift",
        lambda d: stream_markov_drift(
            _ordered_stream(spark, src), baseline, f"{d.root}/repo", d.checkpoint
        ),
        lambda d: read_metrics_repository(spark, f"{d.root}/repo").select(
            "run_id",
            "src",
            "dst",
            F.round("p_base", 6).alias("p_base"),
            F.round("p_run", 6).alias("p_run"),
            F.round("tv_term", 6).alias("tv_term"),
        ),
    )


@query(
    "drift_wasserstein_by_year",
    oracle="""
    WITH pooled AS (
      SELECT CAST(year(o_orderdate) AS INT) AS order_year,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v,
             CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 1 ELSE 0 END AS ca,
             CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 0 ELSE 1 END AS cb
      FROM orders WHERE o_totalprice IS NOT NULL),
    cnts AS (SELECT order_year, v, SUM(ca) AS na, SUM(cb) AS nb
             FROM pooled GROUP BY 1, 2),
    cum AS (SELECT order_year, v,
              SUM(na) OVER w AS cuma, SUM(nb) OVER w AS cumb,
              LEAD(v) OVER w AS nextv,
              SUM(na) OVER (PARTITION BY order_year) AS n_a,
              SUM(nb) OVER (PARTITION BY order_year) AS n_b
            FROM cnts WINDOW w AS (PARTITION BY order_year ORDER BY v)),
    terms AS (SELECT order_year, n_a, n_b,
                CASE WHEN nextv IS NOT NULL THEN
                  ABS(CAST(cuma AS HUGEINT) * n_b
                      - CAST(cumb AS HUGEINT) * n_a) * (nextv - v) END
                  AS t
              FROM cum)
    SELECT order_year,
           ROUND(CAST(COALESCE(SUM(t), 0) AS DOUBLE)
                 / NULLIF(CAST(ANY_VALUE(n_a) AS DOUBLE)
                          * CAST(ANY_VALUE(n_b) AS DOUBLE) * 100.0, 0), 6)
             AS w1_stat,
           CAST(ANY_VALUE(n_a) AS BIGINT) AS n_a,
           CAST(ANY_VALUE(n_b) AS BIGINT) AS n_b
    FROM terms GROUP BY 1
    """,
)
def drift_wasserstein_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SEGMENT exact Wasserstein-1 drift (operators/relational.py:
    wasserstein_by_group): the urgent-vs-normal price distance computed
    independently per order year in ONE pass — "which year's
    distribution moved?", the same segmentation step agg_kll_by_segment
    applies to the quantile sketch.  The group key joins every window's
    partitioning, so the computation is embarrassingly parallel across
    segments (each segment's frame is its own value domain); arithmetic
    keeps the ungrouped operator's exact-integer DECIMAL(38,0)
    contract, and a group missing one side yields NULL via try_divide
    (SQL NULLIF parity), never an ANSI abort."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    base = o.select(
        F.year("o_orderdate").alias("order_year"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("cents"),
        urgent.alias("_u"),
    )
    return R.wasserstein_by_group(
        base.filter(F.col("_u")),
        base.filter(~F.col("_u")),
        "order_year",
        "cents",
        unit_scale=100.0,
    )


@query(
    "sim_matryoshka_recall",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]), qv),
                   6) AS dfull,
             ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[])[1:8],
                   qv[1:8]), 6) AS d8,
             ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[])[1:16],
                   qv[1:16]), 6) AS d16,
             ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[])[1:32],
                   qv[1:32]), 6) AS d32
      FROM embeddings e, q WHERE e.vec_id <> q.query_id),
    truth AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dfull DESC, vec_id) AS r
        FROM scored) WHERE r <= 10),
    pre AS (
      SELECT 8 AS prefix_dim, query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d8 DESC, vec_id) AS r
        FROM scored) WHERE r <= 10
      UNION ALL
      SELECT 16, query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d16 DESC, vec_id) AS r
        FROM scored) WHERE r <= 10
      UNION ALL
      SELECT 32, query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d32 DESC, vec_id) AS r
        FROM scored) WHERE r <= 10),
    hits AS (
      SELECT p.prefix_dim, p.query_id, COUNT(*) AS n_hits
      FROM pre p JOIN truth t ON t.query_id = p.query_id
                             AND t.vec_id = p.vec_id
      GROUP BY 1, 2),
    grid AS (SELECT d.prefix_dim, qq.query_id
             FROM (VALUES (8), (16), (32)) d(prefix_dim),
                  (SELECT DISTINCT query_id FROM truth) qq)
    SELECT g.prefix_dim, g.query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0) / 10.0, 6) AS recall
    FROM grid g LEFT JOIN hits h
      ON h.prefix_dim = g.prefix_dim AND h.query_id = g.query_id
    ORDER BY 1, 2
    """,
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix-dimension recall audit
    (operators/similarity.py: matryoshka_recall — Kusupati et al.
    2022): recall@10 of the first-8/16/32-component dot-product
    rankings against the full 64-d ranking, the measurement that
    decides how many dimensions a production index actually needs —
    and, for THIS corpus (not MRL-trained), honestly reports that
    small prefixes lose most recall.  One broadcast-join pass scores
    EVERY prefix per (query, candidate) via slice+fold, so the corpus
    streams once for all prefixes; each ranking is round-6 with id
    tie-breaks (the rank-determinism device)."""
    emb = _t(spark, sf_dir, "embeddings")
    return D.materialize_release(
        S.matryoshka_recall(
            emb, lambda c: c < 5, prefix_dims=[8, 16, 32], k=10
        )
    )


@query(
    "link_golden_record",
    oracle="""
    WITH RECURSIVE p AS (
      SELECT p_partkey AS id, p_brand, p_type, p_size, p_name,
             list_distinct(string_split(p_name, ' ')) AS toks
      FROM part),
    b AS (SELECT id, unnest(toks) AS tok, p_size, p_brand FROM p),
    cand AS (
      SELECT DISTINCT a.id AS id_a, c.id AS id_b
      FROM b a JOIN b c ON a.tok = c.tok AND a.p_size = c.p_size
                        AND a.p_brand = c.p_brand AND a.id < c.id),
    scored AS (
      SELECT cand.id_a, cand.id_b,
             CAST(len(list_intersect(pa.toks, pb.toks)) AS BIGINT)
               AS inter,
             CAST(len(list_distinct(list_concat(pa.toks, pb.toks)))
                  AS BIGINT) AS uni,
             CAST(pa.p_brand = pb.p_brand AS INT) AS be,
             CAST(pa.p_type = pb.p_type AS INT) AS te
      FROM cand JOIN p pa ON cand.id_a = pa.id
                JOIN p pb ON cand.id_b = pb.id),
    pairs AS (SELECT id_a, id_b FROM scored
              WHERE (50 * inter) // uni + 25 * be + 25 * te >= 80),
    e AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    v AS (SELECT DISTINCT src AS id FROM e),
    reach(id, r) AS (
      SELECT id, id FROM v
      UNION
      SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
    cl AS (SELECT id, MIN(r) AS ck FROM reach GROUP BY id),
    base AS (
      SELECT cl.ck, cl.id, p.p_name, p.p_type
      FROM cl JOIN p ON p.id = cl.id),
    mem AS (
      SELECT ck, CAST(COUNT(*) AS BIGINT) AS n_members,
             MIN(id) AS canonical_id
      FROM base GROUP BY 1 HAVING COUNT(*) >= 2),
    melt AS (
      SELECT ck, 'p_name' AS attr, p_name AS value FROM base
      WHERE p_name IS NOT NULL
      UNION ALL
      SELECT ck, 'p_type', p_type FROM base
      WHERE p_type IS NOT NULL),
    votes AS (
      SELECT ck, attr, value, CAST(COUNT(*) AS BIGINT) AS support
      FROM melt GROUP BY 1, 2, 3),
    best AS (
      SELECT ck, attr, value, support FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY ck, attr
                  ORDER BY support DESC, value ASC) AS r
        FROM votes) WHERE r = 1)
    SELECT m.ck AS cluster_key, m.n_members, m.canonical_id,
           b2.attr, b2.value, b2.support
    FROM mem m JOIN best b2 ON b2.ck = m.ck
    """,
)
def link_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden record (operators/linkage.py:
    golden_records): the merge step after entity resolution — the
    part-catalog matches from link_part_entities close transitively
    into clusters (operators/dedup.py duplicate_clusters, the same
    oracled CC device emb_near_dup_clusters ships), then each cluster
    merges to one canonical field-set: most-frequent-non-null per
    attribute with smallest-value tie-break, keep-first canonical id,
    member count.  Long-format (cluster, attr) rows keep the schema
    stable for any attribute list; the melt is a row-local stack,
    voting aggregates the shrunken (cluster, attr, value) frame, and
    the winner window re-keys that shrunken frame — record rows
    shuffle exactly once.  Oracle: the linkage SQL + recursive
    transitive-closure CTE + the same vote/tie-break windows."""
    from big_data_validator_spark.operators.linkage import (
        golden_records,
        link_entity_pairs,
    )

    part = _t(spark, sf_dir, "part")
    # Keep a handle on the RAW pairs frame: .select() returns a new
    # DataFrame without the _bdv_pinned attribute, so the projection
    # must not be what materialize_release sees (ADVICE r12).
    raw_pairs = link_entity_pairs(
        part,
        id_col="p_partkey",
        name_col="p_name",
        block_cols=["p_size", "p_brand"],
        eq_cols=["p_brand", "p_type"],
        threshold=80,
    ).cache()
    pairs = raw_pairs.select("id_a", "id_b")
    clusters = D.duplicate_clusters(pairs)
    clustered = clusters.join(
        part.select(
            F.col("p_partkey").alias("id"), "p_name", "p_type"
        ),
        "id",
    )
    gold = golden_records(
        clustered, "cluster_id", "id", ["p_name", "p_type"]
    )
    # release both the operator's inner pinned cache AND the pairs
    # cache itself (raw_pairs is consumed by the count probe, the
    # closure edges, and the cluster join — cached so the blocking
    # join runs once)
    gold._bdv_pinned = D.pinned_caches(raw_pairs) + [raw_pairs]
    return D.materialize_release(gold)


@query(
    "link_sorted_neighborhood",
    oracle="""
    WITH r AS (
      SELECT p_partkey AS id, lower(p_name) AS k,
             ROW_NUMBER() OVER (ORDER BY lower(p_name), p_partkey)
               AS rn
      FROM part)
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(b.rn - a.rn AS BIGINT) AS gap
    FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 4
    """,
)
def link_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate generation over the part catalog
    (operators/linkage.py: sorted_neighborhood_pairs — Hernández &
    Stolfo 1995): each part pairs with its 4 successors in
    lowercase-name order, catching the near-misses token blocking
    cannot (truncations/typos sharing no exact token); multi-pass
    linkage unions these with link_part_entities' token blocks.  The
    global rank is an ``operators.block_scan`` row count over STRING
    keys (prefix blocks partition the lexicographic order
    contiguously), and neighbors meet through a rank-div-bucket equi-join —
    ~2n bucket-keyed shuffle rows, output exactly n·(window−1), never
    a global single-task sort or a cross join."""
    from big_data_validator_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", F.lower(F.col("p_name")).alias("k")
    )
    return sorted_neighborhood_pairs(
        part, id_col="p_partkey", key_col="k", window=5
    )


def _kcenter_oracle(k: int, dim: int, scale: int) -> str:
    """Gonzalez farthest-point selection unrolled as CTEs: step i picks
    the row maximizing the MIN exact squared quantized distance to the
    i previously selected centers (correlated scalar subqueries),
    ties to the smallest id — the same engine-portable sequence the
    Spark driver loop executes."""
    dist = (
        "list_sum(list_transform(generate_series(1, {dim}), "
        "ii -> (q.qv[ii] - a{j}.qv[ii]) * (q.qv[ii] - a{j}.qv[ii])))"
    )
    parts = [
        f"q AS (SELECT vec_id AS id, "
        f"list_transform(CAST(embedding AS DOUBLE[]), "
        f"x -> CAST(floor(x * {scale}) AS BIGINT)) AS qv "
        f"FROM embeddings)",
        "c0 AS (SELECT id, qv, CAST(NULL AS BIGINT) AS d2 FROM q "
        "ORDER BY id LIMIT 1)",
    ]
    for i in range(1, k):
        terms = ", ".join(
            dist.format(dim=dim, j=j) for j in range(i)
        )
        mind = f"LEAST({terms})" if i > 1 else terms
        joins = " ".join(f"CROSS JOIN c{j} a{j}" for j in range(i))
        parts.append(
            f"c{i} AS (SELECT q.id, q.qv, CAST({mind} AS BIGINT) AS d2 "
            f"FROM q {joins} ORDER BY d2 DESC, q.id ASC LIMIT 1)"
        )
    union = "\n      UNION ALL ".join(
        f"SELECT {i} AS center_rank, id AS vec_id, d2 AS radius2 "
        f"FROM c{i}"
        for i in range(k)
    )
    return f"WITH {', '.join(parts)}\n    {union}"


@query(
    "sim_kcenter_coreset",
    oracle=_kcenter_oracle(k=6, dim=64, scale=100_000),
)
def sim_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding corpus
    (operators/similarity.py: kcenter_coreset — Gonzalez 1985, the
    Sener & Savarese 2018 core-set selector): 6 centers by
    farthest-point traversal with exact integer distances, the
    coverage-maximizing complement to DSIR's distribution-matching
    selection.  k−1 corpus passes, each one codegen projection (the
    chosen centers ride as literals — nothing joins, nothing shuffles)
    into TakeOrdered(1); the shipped coverage-radius sequence is the
    k-center diagnostic.  The oracle replays the identical selection
    as unrolled CTEs with correlated exact-distance subqueries."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.kcenter_coreset(
        emb, k=6, dim=64, quant_scale=100_000
    )


@query(
    "sim_sq8_recall",
    oracle="""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    dims AS (SELECT unnest(generate_series(1, 64)) AS d),
    stat1 AS (
      SELECT d, MIN(v[d]) AS lo,
             CASE WHEN MAX(v[d]) > MIN(v[d])
                  THEN 255.0 / (MAX(v[d]) - MIN(v[d])) ELSE 0.0 END AS s
      FROM c CROSS JOIN dims GROUP BY 1),
    stats AS (
      SELECT list(lo ORDER BY d) AS lo, list(s ORDER BY d) AS s
      FROM stat1),
    qz AS (
      SELECT vec_id,
             list_transform(generate_series(1, 64), i ->
               CAST(LEAST(GREATEST(
                 ROUND((v[i] - st.lo[i]) * st.s[i]), 0), 255)
                    AS BIGINT)) AS qv8,
             v
      FROM c, stats st),
    q AS (SELECT vec_id AS query_id, qv8 AS qq8, v AS qv FROM qz
          WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND(list_inner_product(e.v, qv), 6) AS dfull,
             CAST(list_sum(list_transform(generate_series(1, 64),
                  i -> e.qv8[i] * qq8[i])) AS BIGINT) AS dsq
      FROM qz e, q WHERE e.vec_id <> q.query_id),
    truth AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dfull DESC, vec_id) AS r
        FROM scored) WHERE r <= 10),
    sq AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dsq DESC, vec_id) AS r
        FROM scored) WHERE r <= 10),
    hits AS (
      SELECT s.query_id, COUNT(*) AS n_hits
      FROM sq s JOIN truth t ON t.query_id = s.query_id
                            AND t.vec_id = s.vec_id
      GROUP BY 1)
    SELECT g.query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0) / 10.0, 6) AS recall
    FROM (SELECT DISTINCT query_id FROM truth) g
    LEFT JOIN hits h ON h.query_id = g.query_id
    ORDER BY 1
    """,
)
def sim_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization (int8) recall audit (operators/similarity.py:
    sq8_recall — the FAISS SQ8 recipe): per-dimension min/max 8-bit
    quantization, EXACT-INTEGER quantized-dot ranking, recall@10
    against the full-precision round-6 dot ranking — the measurement
    that decides whether the index can take the 4× memory cut, the
    width-axis sibling of sim_matryoshka_recall's dimension-axis
    audit.  One aggregation for the 2·dim min/max stats (no row
    shuffle), then one broadcast-join pass scores both rankings — the
    corpus streams once; integer dots make the quantized ranks
    engine-portable with id tie-breaks."""
    emb = _t(spark, sf_dir, "embeddings")
    return D.materialize_release(
        S.sq8_recall(emb, lambda c: c < 5, dim=64, k=10)
    )


#: Shared by the broadcast-exact and Bloom-prefilter contamination
#: entries: the Bloom path's confirm join removes every false positive,
#: so both compute the identical relation and share one oracle.
_CONTAMINATION_13GRAM_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(t) - 12),
               i -> array_to_string(t[i:i+12], ' '))) AS g
      FROM toks WHERE len(t) >= 13),
    bench AS (SELECT DISTINCT unnest(g) AS bg FROM grams
              WHERE doc_id < 20),
    corpus AS (SELECT doc_id AS id, g FROM grams WHERE doc_id >= 20),
    sizes AS (SELECT id, len(g) AS n_grams FROM corpus),
    hits AS (
      SELECT c.id, COUNT(*) AS n_dirty
      FROM (SELECT id, unnest(g) AS cg FROM corpus) c
      JOIN bench b ON b.bg = c.cg
      GROUP BY 1)
    SELECT s.id, CAST(s.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(h.n_dirty, 0) AS BIGINT) AS n_dirty,
           ROUND(COALESCE(h.n_dirty, 0)
                 / CAST(s.n_grams AS DOUBLE), 6) AS dirty_frac,
           COALESCE(h.n_dirty, 0) / CAST(s.n_grams AS DOUBLE) >= 0.1
             AS flagged
    FROM sizes s LEFT JOIN hits h ON h.id = s.id
    """


@query(
    "contamination_ngram_overlap",
    oracle=_CONTAMINATION_13GRAM_ORACLE,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination by 13-gram collision rate
    (operators/curation.py: contamination_ngram_overlap — the
    GPT-3/PaLM dirty-document method): each training document scored by
    the fraction of its word-13-grams that also appear in the
    benchmark slice (docs 0-19 here), catching partial and
    paraphrased-layout overlaps the exact-substring probe screen
    (contamination_probes) cannot — the planted near-dup crossing the
    benchmark boundary surfaces at dirty_frac 1.0.  The benchmark gram
    set broadcasts (benchmarks are small by construction) and the
    corpus streams ONCE through a one-sided join."""
    from big_data_validator_spark.operators.curation import (
        contamination_ngram_overlap,
    )

    docs = _rb(_t(spark, sf_dir, "documents"))
    return D.materialize_release(
        contamination_ngram_overlap(
            docs.filter(F.col("doc_id") >= 20),
            docs.filter(F.col("doc_id") < 20),
            n_words=13,
            flag_threshold=0.1,
        )
    )


@query(
    "contamination_ngram_bloom",
    oracle=_CONTAMINATION_13GRAM_ORACLE,
)
def contamination_ngram_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 13-gram contamination screen's 10⁶+-gram-benchmark path
    (operators/curation.py: contamination_ngram_bloom): the benchmark
    grams fold DISTRIBUTED into a Bloom bitmap (k bit positions per
    gram via xxhash64 double hashing, OR-folded into 64-bit words —
    only the bounded bitmap is ever collected, ~1.2 MB per million
    grams), the corpus gram explode prefilters through the bitmap as
    pure expression arithmetic against one broadcast row, and the tiny
    survivor set (hits + ~fpp false positives) joins the benchmark
    gram relation exactly.  Zero false negatives by Bloom
    construction, false positives removed by the confirm join — so
    the result is IDENTICAL to contamination_ngram_overlap's broadcast
    path and shares its oracle; what changes at scale is the join
    input: survivors, not the corpus."""
    from big_data_validator_spark.operators.curation import (
        contamination_ngram_bloom,
    )

    docs = _rb(_t(spark, sf_dir, "documents"))
    return D.materialize_release(
        contamination_ngram_bloom(
            docs.filter(F.col("doc_id") >= 20),
            docs.filter(F.col("doc_id") < 20),
            n_words=13,
            flag_threshold=0.1,
            fpp=0.01,
        )
    )


@query(
    "quality_linear_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents),
    scored AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(list_sum(list_transform(t, tok ->
               (CAST(CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT)
                     % 4096 AS BIGINT) * 2654435761) % 1999 - 999))
                  AS BIGINT) AS sw
      FROM toks WHERE len(t) > 0)
    SELECT doc_id AS id, n_tokens,
           CAST((sw * 1000000) // n_tokens AS BIGINT) AS score_ppm,
           (sw * 1000000) // n_tokens >= 0 AS flagged
    FROM scored
    """,
)
def quality_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality-classifier inference
    (operators/curation.py: linear_quality_scores): mean hashed-token
    bucket weight per document in exact ppm — the CCNet pairing with
    the unigram-LM perplexity score (quality_* + text_unigram_* cover
    both halves of that public curation recipe).  The 4096-bucket
    integer weight table here is a deterministic Weyl-sequence stand-in
    for trained weights (both engines recompute it exactly;
    bucket·2654435761 mod 1999 − 999), the bucket hash is the portable
    md5 device, and the plan is ZERO-SHUFFLE: one broadcast array row
    + a row-local transform/aggregate fold inside whole-stage codegen —
    no explode, no per-token join, no Python workers."""
    from big_data_validator_spark.operators.curation import (
        linear_quality_scores,
    )

    docs = _rb(_t(spark, sf_dir, "documents"))
    weights = spark.range(4096).select(
        F.col("id").alias("bucket"),
        (
            (F.col("id") * F.lit(2654435761)) % F.lit(1999) - F.lit(999)
        ).alias("weight"),
    )
    return linear_quality_scores(
        docs, weights, n_buckets=4096, threshold_ppm=0
    )


#: Shared unrolled-GD training CTE prefix (2 full-batch steps) for the
#: quality_linear_train / pipeline_quality_train_score oracles — the
#: established unrolled-iteration device (EM, exact-int k-means): both
#: engines replay the identical integer rules, so the oracle TRAINS
#: ITSELF from the same data instead of receiving weight literals.
_LINEAR_TRAIN_CTES = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents),
    fx0 AS (
      SELECT doc_id,
             CASE WHEN doc_id < 20 THEN 1 ELSE 0 END AS y,
             CAST(len(t) AS BIGINT) AS n,
             CAST(CAST('0x' || substr(md5(unnest(t)), 1, 8) AS UBIGINT)
                  % 4096 AS BIGINT) AS b
      FROM toks WHERE len(t) > 0),
    fx AS (
      SELECT doc_id, y, n, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM fx0 GROUP BY 1, 2, 3, 4),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS nn FROM fx),
    r1 AS (
      SELECT DISTINCT doc_id, n, CAST(0 - y * 1000000 AS BIGINT) AS r
      FROM fx),
    g1 AS (
      SELECT fx.b, SUM((r1.r * fx.c) // fx.n) AS g
      FROM fx JOIN r1 USING (doc_id) GROUP BY 1),
    w1 AS (
      SELECT b, 0 - (g // (SELECT nn FROM nd)) AS w FROM g1),
    s2 AS (
      SELECT fx.doc_id, any_value(fx.y) AS y, any_value(fx.n) AS n,
             SUM(fx.c * COALESCE(w1.w, 0)) AS sw
      FROM fx LEFT JOIN w1 USING (b) GROUP BY 1),
    r2 AS (
      SELECT doc_id, n, (sw // n) - y * 1000000 AS r FROM s2),
    g2 AS (
      SELECT fx.b, SUM((r2.r * fx.c) // fx.n) AS g
      FROM fx JOIN r2 USING (doc_id) GROUP BY 1),
    w2 AS (
      SELECT b, COALESCE(w1.w, 0) - (g2.g // (SELECT nn FROM nd)) AS w
      FROM g2 LEFT JOIN w1 USING (b))
"""


@query(
    "quality_linear_train",
    oracle=_LINEAR_TRAIN_CTES
    + """
    SELECT b AS bucket, CAST(w AS BIGINT) AS weight
    FROM w2 WHERE w <> 0
    """,
)
def quality_linear_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality-classifier TRAINING
    (operators/curation.py: linear_quality_train — the learn half of
    the CCNet loop whose inference half is quality_linear_score): two
    full-batch integer gradient steps of squared-loss regression on
    the mean-hashed-bucket score, labels = the doc_id < 20 target
    slice, 1/N step size.  Every step is exact integer arithmetic with
    truncating division at three defined points (Spark ``div`` ==
    DuckDB ``//``), w ≡ 0 init, no RNG — so the oracle replays the
    steps as unrolled CTEs and both engines derive bit-identical
    weights from the data (the EM / exact-int k-means device).  The
    per-(doc, bucket) count frame builds once and persists across
    steps; each step is two bounded aggregations, a key join, and one
    ≤4096-row gradient collect."""
    from big_data_validator_spark.operators.curation import (
        linear_quality_train,
    )

    docs = _rb(_t(spark, sf_dir, "documents"))
    return linear_quality_train(
        docs, lambda c: c < 20, n_buckets=4096, steps=2
    )


@query(
    "pipeline_quality_train_score",
    oracle=_LINEAR_TRAIN_CTES
    + """
    SELECT fx.doc_id AS id, any_value(fx.n) AS n_tokens,
           CAST((SUM(fx.c * COALESCE(w2.w, 0)) * 1000000)
                // any_value(fx.n) AS BIGINT) AS score_ppm,
           (SUM(fx.c * COALESCE(w2.w, 0)) * 1000000)
                // any_value(fx.n) >= 100000 AS flagged
    FROM fx LEFT JOIN w2 USING (b) GROUP BY 1
    """,
)
def pipeline_quality_train_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The closed CCNet loop (VERDICT r12 item 4): linear_quality_train
    learns the integer weight table from the doc_id < 20 target slice,
    then linear_quality_scores CONSUMES the learned table to score the
    whole corpus — train → serve in one lineage, the end-to-end path a
    curation deployment actually runs.  Training is the unrolled
    2-step integer-GD device; scoring is the zero-shuffle broadcast
    array fold (one 4096-slot array row, row-local transform/aggregate
    inside whole-stage codegen).  The oracle replays the training CTEs
    and scores with the derived w2 relation — weights never cross as
    literals."""
    from big_data_validator_spark.operators.curation import (
        linear_quality_scores,
        linear_quality_train,
    )

    docs = _rb(_t(spark, sf_dir, "documents"))
    weights = linear_quality_train(
        docs, lambda c: c < 20, n_buckets=4096, steps=2
    )
    return linear_quality_scores(
        docs, weights, n_buckets=4096, threshold_ppm=100_000
    )


@query(
    "dedup_excise_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents),
    base AS (
      SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n
      FROM toks WHERE len(t) > 0),
    grams AS (
      SELECT doc_id, s AS p, array_to_string(t[s:s+7], ' ') AS g
      FROM base, unnest(generate_series(1, len(t) - 7)) AS u(s)),
    dup AS (
      SELECT g FROM grams GROUP BY g
      HAVING COUNT(DISTINCT doc_id) >= 2),
    cov AS (
      SELECT DISTINCT grams.doc_id, grams.p + d.d AS i
      FROM grams JOIN dup USING (g),
           unnest(generate_series(0, 7)) AS d(d)),
    tok AS (
      SELECT doc_id, unnest(t) AS w,
             unnest(generate_series(1, len(t))) AS i
      FROM base),
    kept AS (
      SELECT tok.doc_id, tok.i, tok.w
      FROM tok LEFT JOIN cov
        ON tok.doc_id = cov.doc_id AND tok.i = cov.i
      WHERE cov.i IS NULL),
    ka AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nk,
             string_agg(w, ' ' ORDER BY i) AS ct
      FROM kept GROUP BY 1)
    SELECT base.doc_id AS id, base.n AS n_tokens,
           base.n - COALESCE(ka.nk, 0) AS n_removed,
           COALESCE(ka.ct, '') AS clean_text
    FROM base LEFT JOIN ka USING (doc_id)
    """,
)
def dedup_excise_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span EXCISION over the documents corpus
    (operators/dedup.py: excise_duplicate_spans — RefinedWeb / Lee et
    al. 2022): the dedup family's first REWRITE — every word 8-gram
    appearing in ≥2 distinct documents is removed from ALL of its
    occurrences and the cleaned text re-emitted, the transform that
    actually strips quoted boilerplate rather than just flagging the
    pair.  The synthetic corpus's duplicate families excise to empty
    (whole-document spans are duplicated 8-grams end to end) while
    unique documents pass through verbatim — both behaviors hashed.
    Positioned grams explode once under codegen; duplicated grams are
    one gram-keyed partial agg; coverage and survivors are bounded
    (doc, index) joins; reassembly sorts each doc's surviving tokens
    in one aggregation.  Oracle: DuckDB recomputes the excision from
    the same deterministic gram relation."""
    from big_data_validator_spark.operators.dedup import (
        excise_duplicate_spans,
    )

    docs = _rb(_t(spark, sf_dir, "documents"))
    return D.materialize_release(
        excise_duplicate_spans(docs, n_words=8, min_docs=2)
    )


@query(
    "text_repetition_metrics",
    oracle="""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents),
    base AS (
      SELECT doc_id, text, t, CAST(len(t) AS BIGINT) AS n,
             CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT)
               AS tchars
      FROM toks WHERE len(t) > 0),
    lines0 AS (
      SELECT doc_id,
             trim(unnest(regexp_split_to_array(text,
                  '[.!?]+\\s+|\\n+'))) AS l
      FROM base),
    lc AS (
      SELECT doc_id, l, CAST(COUNT(*) AS BIGINT) AS c
      FROM lines0 WHERE l <> '' GROUP BY 1, 2),
    lstats AS (
      SELECT doc_id, SUM(c) AS n_lines,
             SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dl,
             SUM(c * len(l)) AS lch,
             SUM(CASE WHEN c >= 2 THEN c * len(l) ELSE 0 END) AS dlch
      FROM lc GROUP BY 1),
    g2c AS (
      SELECT doc_id, array_to_string(t[s:s+1], ' ') AS g,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM base, unnest(generate_series(1, len(t) - 1)) AS u(s)
      GROUP BY 1, 2),
    topg AS (
      SELECT doc_id, c * (len(g) - 1) AS topch
      FROM (SELECT doc_id, g, c,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY c DESC, g ASC) AS rn
            FROM g2c) WHERE rn = 1),
    g5 AS (
      SELECT doc_id, s AS p, array_to_string(t[s:s+4], ' ') AS g
      FROM base, unnest(generate_series(1, len(t) - 4)) AS u(s)),
    g5dup AS (
      SELECT doc_id, g FROM g5 GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    cov AS (
      SELECT DISTINCT g5.doc_id, g5.p + d.d AS i
      FROM g5 JOIN g5dup USING (doc_id, g),
           unnest(generate_series(0, 4)) AS d(d)),
    tok AS (
      SELECT doc_id, unnest(t) AS w,
             unnest(generate_series(1, len(t))) AS i
      FROM base),
    covch AS (
      SELECT tok.doc_id, SUM(len(w)) AS covch
      FROM tok JOIN cov ON tok.doc_id = cov.doc_id AND tok.i = cov.i
      GROUP BY 1)
    SELECT base.doc_id AS id, base.n AS n_tokens,
           CAST(COALESCE(l.n_lines, 0) AS BIGINT) AS n_lines,
           CAST((COALESCE(l.dl, 0) * 1000000)
                // GREATEST(COALESCE(l.n_lines, 0), 1) AS BIGINT)
             AS dup_line_frac_ppm,
           CAST((COALESCE(l.dlch, 0) * 1000000)
                // GREATEST(COALESCE(l.lch, 0), 1) AS BIGINT)
             AS dup_line_char_frac_ppm,
           CAST((COALESCE(tg.topch, 0) * 1000000)
                // GREATEST(base.tchars, 1) AS BIGINT)
             AS top2gram_char_frac_ppm,
           CAST((COALESCE(cc.covch, 0) * 1000000)
                // GREATEST(base.tchars, 1) AS BIGINT)
             AS dup5gram_char_frac_ppm
    FROM base LEFT JOIN lstats l USING (doc_id)
    LEFT JOIN topg tg USING (doc_id)
    LEFT JOIN covch cc USING (doc_id)
    """,
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Gopher repetition suite (operators/curation.py:
    repetition_metrics — Rae et al. 2021 §A1.1): duplicate-line
    fraction by count and by characters (sentence/newline split),
    top-2-gram character share, and the overlap-once character
    COVERAGE of duplicated word 5-grams — the line/n-gram originals
    the paper gates on, beside word_quality_metrics' word-level
    analogs already shipped.  All fractions are exact ppm integers
    over the shared token-character denominator; the dup-gram leg
    reuses the excision coverage device (positioned gram explode →
    within-doc dup filter → coverage distinct → token join), so every
    shuffle is bounded by corpus token/line count.  Oracle: DuckDB
    recomputes every metric from the same deterministic relations."""
    from big_data_validator_spark.operators.curation import (
        repetition_metrics,
    )

    docs = _rb(_t(spark, sf_dir, "documents"))
    return D.materialize_release(
        repetition_metrics(docs, top_ngram=2, dup_ngram=5)
    )


@query(
    "ts_changepoint_cusum",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE) * 100)
                  AS HUGEINT) AS v
      FROM orders GROUP BY 1),
    scored AS (
      SELECT d,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS HUGEINT) AS t,
             SUM(v) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS pfx,
             CAST(COUNT(*) OVER () AS HUGEINT) AS n,
             SUM(v) OVER () AS total
      FROM daily),
    cand AS (
      SELECT d, t, n, pfx, total,
             abs(n * pfx - t * total) AS absd
      FROM scored WHERE t < n)
    SELECT d AS split_date, CAST(t AS BIGINT) AS t_index,
           CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN total = 0 THEN 0
                ELSE (absd * 1000000) // (n * abs(total)) END
             AS BIGINT) AS cusum_ppm,
           CAST(pfx // t AS BIGINT) AS mean_before_cents,
           CAST((total - pfx) // (n - t) AS BIGINT)
             AS mean_after_cents
    FROM cand ORDER BY absd DESC, d ASC LIMIT 1
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer CUSUM changepoint over daily order revenue
    (operators/timeseries.py: cusum_changepoint — Page 1954): the
    maximum-|D_t| split of the centered cumulative sum D_t = n·prefix
    − t·total in exact DECIMAL(38,0) cents, ties to the earliest day —
    the mean-shift monitor the drift family (distribution tests) does
    not cover: WHERE the level moved, not whether two samples differ.
    One data shuffle (the per-day cents aggregate); every window runs
    on the calendar-bounded daily frame, and the normalized statistic,
    before/after means ship as truncating-div integers both engines
    reproduce."""
    from big_data_validator_spark.operators.timeseries import (
        cusum_changepoint,
    )

    orders = _t(spark, sf_dir, "orders")
    return cusum_changepoint(orders, "o_orderdate", "o_totalprice")


@query(
    "ts_binseg_changepoints",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE) * 100)
                  AS HUGEINT) AS v
      FROM orders GROUP BY 1),
    s1 AS (
      SELECT d,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS HUGEINT) AS t,
             SUM(v) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS pfx,
             CAST(COUNT(*) OVER () AS HUGEINT) AS n,
             SUM(v) OVER () AS total,
             MIN(d) OVER () AS seg_start
      FROM daily),
    c1 AS (SELECT *, abs(n * pfx - t * total) AS absd
           FROM s1 WHERE t < n),
    b1 AS (SELECT * FROM c1 ORDER BY absd DESC, d ASC LIMIT 1),
    tagged AS (
      SELECT daily.d, daily.v,
             CASE WHEN daily.d > b1.d THEN 1 ELSE 0 END AS seg
      FROM daily, b1),
    s2 AS (
      SELECT seg, d,
             CAST(ROW_NUMBER() OVER (PARTITION BY seg ORDER BY d)
                  AS HUGEINT) AS t,
             SUM(v) OVER (PARTITION BY seg ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS pfx,
             CAST(COUNT(*) OVER (PARTITION BY seg) AS HUGEINT) AS n,
             SUM(v) OVER (PARTITION BY seg) AS total,
             MIN(d) OVER (PARTITION BY seg) AS seg_start
      FROM tagged),
    c2 AS (SELECT *, abs(n * pfx - t * total) AS absd
           FROM s2 WHERE t < n),
    b2 AS (SELECT * FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY seg
                         ORDER BY absd DESC, d ASC) AS rk
             FROM c2) WHERE rk = 1),
    allrows AS (
      SELECT 1 AS level, seg_start, d, t, n, pfx, total, absd FROM b1
      UNION ALL
      SELECT 2 AS level, seg_start, d, t, n, pfx, total, absd FROM b2)
    SELECT level, seg_start, d AS split_date,
           CAST(t AS BIGINT) AS t_index,
           CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN total = 0 THEN 0
                ELSE (absd * 1000000) // (n * abs(total)) END
             AS BIGINT) AS cusum_ppm,
           CAST(pfx // t AS BIGINT) AS mean_before_cents,
           CAST((total - pfx) // (n - t) AS BIGINT)
             AS mean_after_cents
    FROM allrows ORDER BY level, split_date
    """,
)
def ts_binseg_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 BINARY SEGMENTATION over daily order revenue
    (operators/timeseries.py: binseg_changepoints — Scott & Knott
    1974): the recursive multi-changepoint extension of
    ts_changepoint_cusum — best |D_t| split of the whole series, then
    the best split WITHIN each half, all on the segment-local exact
    DECIMAL(38,0) integer contract (argmax ties to the earliest day,
    ppm-normalized statistic, truncating-div means).  A series that
    shifted twice hides the second move from the single-split monitor;
    the recursion recovers both.  ONE data shuffle (the pinned per-day
    cents agg, released on materialize); per-segment windows on the
    calendar-bounded daily frame and a broadcast join of the ≤2-row
    cut frame — no driver collect.  Oracle: the recursion UNROLLED as
    CTEs (the EM/k-means/GD device)."""
    from big_data_validator_spark.operators.timeseries import (
        binseg_changepoints,
    )

    orders = _t(spark, sf_dir, "orders")
    return D.materialize_release(
        binseg_changepoints(orders, "o_orderdate", "o_totalprice", depth=2)
    )


@query(
    "ts_acf_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE) * 100)
                  AS HUGEINT) AS v
      FROM orders GROUP BY 1),
    c AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS HUGEINT) AS t,
             CAST(COUNT(*) OVER () AS HUGEINT) AS n,
             CAST(COUNT(*) OVER () AS HUGEINT) * v
               - SUM(v) OVER () AS c
      FROM daily),
    lags AS (SELECT CAST(unnest(generate_series(1, 7)) AS INT) AS lag),
    nums AS (
      SELECT l.lag, SUM(a.c * b.c) AS num
      FROM lags l CROSS JOIN c a JOIN c b ON b.t = a.t + l.lag
      GROUP BY l.lag),
    den AS (SELECT SUM(c * c) AS den,
                   CAST(MAX(n) AS BIGINT) AS n_days
            FROM c)
    SELECT l.lag, den.n_days,
           CASE WHEN den.den > 0 THEN
             ROUND(CAST(nums.num AS DOUBLE)
                   / CAST(den.den AS DOUBLE), 6)
           END AS acf
    FROM lags l LEFT JOIN nums USING (lag) CROSS JOIN den
    WHERE den.n_days > 0
    ORDER BY l.lag
    """,
)
def ts_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT lag-1..7 autocorrelation of daily order revenue
    (operators/timeseries.py: acf_daily) — the serial-dependence /
    seasonality member completing the timeseries family: Theil–Sen
    answers "is there a trend", CUSUM/binseg "did the level shift",
    ACF "does the series repeat" (a weekly ordering cycle shows as a
    lag-7 peak).  The n² factors cancel in the standard estimator, so
    ``r_k = Σc_t·c_{t+k} / Σc_t²`` with ``c_t = n·v_t − S`` is a ratio
    of two exact DECIMAL(38,0) integers — the only float is the final
    quotient (IEEE-identical across engines, round-6).  ONE data
    shuffle (the per-day cents agg); the index, the 7 lead columns
    (one window pass) and the per-lag sums all run on the
    calendar-bounded daily frame.  Oracle computes the same integers
    via an index self-join on the lag offset."""
    from big_data_validator_spark.operators.timeseries import acf_daily

    orders = _t(spark, sf_dir, "orders")
    return acf_daily(orders, "o_orderdate", "o_totalprice", max_lag=7)


@query(
    "ts_pettitt_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE) * 100)
                  AS HUGEINT) AS v
      FROM orders GROUP BY 1),
    ranked AS (
      SELECT d,
             CAST(2 * RANK() OVER (ORDER BY v)
                  + COUNT(*) OVER (PARTITION BY v) - 1 AS HUGEINT) AS m
      FROM daily),
    scored AS (
      SELECT d,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS HUGEINT) AS t,
             CAST(COUNT(*) OVER () AS HUGEINT) AS n,
             SUM(m) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS pm
      FROM ranked),
    cand AS (
      SELECT d, t, n, pm - t * (n + 1) AS u
      FROM scored WHERE t < n)
    SELECT d AS split_date, CAST(t AS BIGINT) AS t_index,
           CAST(n AS BIGINT) AS n_days, CAST(u AS BIGINT) AS u_stat,
           CAST((abs(u) * 1000000) // (t * (n - t)) AS BIGINT)
             AS pettitt_ppm
    FROM cand ORDER BY abs(u) DESC, d ASC LIMIT 1
    """,
)
def ts_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PETTITT rank-based changepoint over daily order revenue
    (operators/timeseries.py: pettitt_changepoint — Pettitt 1979):
    argmax_t |U_t| of the Mann-Whitney statistic over every split,
    U_t = Sigma m_i - t(n+1) on doubled midranks — the nonparametric
    twin of ts_changepoint_cusum that a single wild day cannot fake
    (CUSUM is mean-based and outlier-dragged; Pettitt is rank-based).
    Every emitted value is an exact integer (the tie terms contribute
    exactly 0 under doubled midranks), pettitt_ppm normalizing |U| by
    the split's own pair ceiling t(n-t).  One data shuffle (per-day
    cents agg); rank + prefix windows and the TakeOrdered(1) argmax
    on the calendar-bounded daily frame."""
    from big_data_validator_spark.operators.timeseries import (
        pettitt_changepoint,
    )

    orders = _t(spark, sf_dir, "orders")
    return pettitt_changepoint(orders, "o_orderdate", "o_totalprice")


@query(
    "ts_runs_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(CAST(SUM(l_extendedprice) AS DOUBLE) * 100)
                  AS HUGEINT) AS v
      FROM lineitem GROUP BY 1),
    deltas AS (
      SELECT d, v - LAG(v) OVER (ORDER BY d) AS dv FROM daily),
    signs AS (
      SELECT d, CASE WHEN dv > 0 THEN 1 ELSE -1 END AS s
      FROM deltas WHERE dv IS NOT NULL AND dv <> 0),
    flips AS (
      SELECT s,
             CASE WHEN LAG(s) OVER (ORDER BY d) IS NULL
                    OR LAG(s) OVER (ORDER BY d) = s THEN 0
                  ELSE 1 END AS f
      FROM signs),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_signs,
             CAST(COALESCE(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_plus,
             CAST(COALESCE(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_minus,
             CASE WHEN COUNT(*) = 0 THEN NULL
                  ELSE CAST(1 + SUM(f) AS BIGINT) END AS runs
      FROM flips)
    SELECT n_signs, n_plus, n_minus, runs,
           CASE WHEN n_signs > 0 THEN
             CAST((2000 * CAST(n_plus AS HUGEINT) * n_minus)
                  // (n_plus + n_minus) + 1000 AS BIGINT)
           END AS expected_runs_milli
    FROM agg
    """,
)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ runs test on day-over-day deltas of daily
    lineitem revenue (operators/timeseries.py: runs_test_daily) — the
    randomness monitor completing the timeseries question set (trend /
    level shift / repetition / independence).  Sign of each delta
    (zeros dropped, the standard treatment), runs = 1 + sign flips;
    everything emitted is an exact integer incl. the null expectation
    E[R] = 1 + 2·n_plus·n_minus/n as truncating-div milli-runs — a
    feed whose moves cluster (too few runs) is regime-driven, one
    that alternates like clockwork (too many) is synthetic.  One data
    shuffle (the per-day cents agg); both lag windows on the
    calendar-bounded daily frame."""
    from big_data_validator_spark.operators.timeseries import (
        runs_test_daily,
    )

    li = _t(spark, sf_dir, "lineitem")
    return runs_test_daily(li, "l_shipdate", "l_extendedprice")


@query(
    "agg_spearman_rank",
    oracle="""
    WITH pairs AS (
      SELECT CAST(year(l_shipdate) AS INT) AS yr, l_quantity AS x,
             l_discount AS y, CAST(COUNT(*) AS HUGEINT) AS c
      FROM lineitem GROUP BY 1, 2, 3),
    xm AS (
      SELECT yr, x,
             2 * SUM(SUM(c)) OVER (PARTITION BY yr ORDER BY x
                                   ROWS UNBOUNDED PRECEDING)
               - SUM(c) + 1 AS mx
      FROM pairs GROUP BY yr, x),
    ym AS (
      SELECT yr, y,
             2 * SUM(SUM(c)) OVER (PARTITION BY yr ORDER BY y
                                   ROWS UNBOUNDED PRECEDING)
               - SUM(c) + 1 AS my
      FROM pairs GROUP BY yr, y),
    j AS (
      SELECT p.yr, p.c, xm.mx, ym.my
      FROM pairs p
      JOIN xm ON p.yr = xm.yr AND p.x = xm.x
      JOIN ym ON p.yr = ym.yr AND p.y = ym.y),
    s AS (
      SELECT yr, SUM(c) AS n, SUM(c * mx) AS sx, SUM(c * my) AS sy,
             SUM(c * mx * mx) AS sxx, SUM(c * my * my) AS syy,
             SUM(c * mx * my) AS sxy
      FROM j GROUP BY yr)
    SELECT yr AS ship_year, CAST(n AS BIGINT) AS n_rows,
           CASE WHEN (n * sxx - sx * sx) > 0
                 AND (n * syy - sy * sy) > 0 THEN
             ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
           END AS spearman_rho
    FROM s ORDER BY yr
    """,
)
def agg_spearman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ship-year SPEARMAN rank correlation of quantity vs discount
    (operators/profile.py: spearman_rank_corr) — the robust
    monotone-dependence sibling of agg_correlation_matrix's Pearson:
    ranks first, so one wild row cannot drag it and any monotone
    transform leaves it fixed.  Pearson on DOUBLED MIDRANKS (exact
    integers even under ties — the tie-corrected definition, not the
    6-sigma-d-squared shortcut that breaks on ties), every moment an
    exact DECIMAL(38,0) from the (year, x, y) PAIR-COUNT frame; the
    only floats are two square roots and the final quotient (round-6,
    IEEE-identical across engines).  ONE data shuffle (the pair-count
    agg, pinned + released on materialize); midrank windows on the
    |X|x|Y| distinct-value frames (50x11 here) joined back broadcast."""
    from big_data_validator_spark.operators.profile import (
        spearman_rank_corr,
    )

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    return D.materialize_release(
        spearman_rank_corr(li, "ship_year", "l_quantity", "l_discount")
    )


@query(
    "agg_gini_customer_revenue",
    oracle="""
    WITH perkey AS (
      SELECT o_custkey AS k,
             CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE) * 100)
                  AS BIGINT) AS x
      FROM orders GROUP BY 1),
    cnts AS (
      SELECT x, CAST(COUNT(*) AS HUGEINT) AS t FROM perkey GROUP BY 1),
    pfx AS (
      SELECT x, t,
             COALESCE(SUM(t) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND 1 PRECEDING), 0) AS c
      FROM cnts),
    agg AS (
      SELECT SUM(t) AS n, SUM(CAST(x AS HUGEINT) * t) AS s,
             SUM(CAST(x AS HUGEINT) * (2 * t * c + t * t + t)) AS rw
      FROM pfx)
    SELECT CAST(n AS BIGINT) AS n_keys, CAST(s AS BIGINT) AS total_cents,
           CASE WHEN s > 0 THEN
             CAST(((rw - (n + 1) * s) * 1000000) // (n * s) AS BIGINT)
           END AS gini_ppm
    FROM agg
    """,
)
def agg_gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer GINI coefficient of per-customer order revenue
    (operators/profile.py: gini_concentration) — the
    inequality-of-the-whole-curve concentration profiler ("do 1% of
    customers carry 60% of revenue?"), and the single-number skew
    summary a partitioner wants about a key column BEFORE a shuffle
    discovers the skew the hard way.  Per-value tie counts collapse
    the rank-weighted sum to an exact DECIMAL(38,0) identity (no
    float sort, no tie hazard); the cumulative count is
    ``operators.block_scan`` — never a single-task global window, so
    millions of distinct customers rank in parallel."""
    from big_data_validator_spark.operators.profile import (
        gini_concentration,
    )

    orders = _t(spark, sf_dir, "orders")
    return D.materialize_release(
        gini_concentration(orders, "o_custkey", "o_totalprice")
    )


@query(
    "agg_hhi_supplier_nation",
    oracle="""
    WITH perkey AS (
      SELECT s_nationkey AS g, l_suppkey AS k,
             CAST(ROUND(CAST(SUM(l_extendedprice) AS DOUBLE) * 100)
                  AS HUGEINT) AS x
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2),
    agg AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n_keys, SUM(x) AS s,
             SUM(x * x) AS sq, MAX(x) AS mx
      FROM perkey GROUP BY 1)
    SELECT g AS nation_key, n_keys, CAST(s AS BIGINT) AS total_cents,
           CASE WHEN s > 0 THEN
             CAST((sq * 1000000) // (s * s) AS BIGINT) END AS hhi_ppm,
           CASE WHEN s > 0 THEN
             CAST((mx * 1000000) // s AS BIGINT) END AS top_share_ppm
    FROM agg ORDER BY g
    """,
)
def agg_hhi_supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL-HIRSCHMAN supplier-revenue concentration per nation
    (operators/profile.py: hhi_by_group) — Gini's top-weighted
    sibling: Σ share² of each supplier's lineitem revenue within its
    nation, 10⁶ ppm for a monopoly, 10⁶/k for k equal players — plus
    the top supplier's share, all exact DECIMAL(38,0) truncating-div
    integers (no float shares).  The supplier dim joins BROADCAST
    into the fact scan; then two hash aggregations — the (nation,
    supplier) agg is the only data-size shuffle and the nation rollup
    runs on its ~supplier-count output.  Negative per-supplier totals
    raise (share interpretation guard)."""
    from big_data_validator_spark.operators.profile import hhi_by_group

    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_nationkey").alias("nation_key")
    )
    joined = li.join(
        F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"]
    )
    return hhi_by_group(
        joined, "nation_key", "l_suppkey", "l_extendedprice"
    )


@query(
    "agg_kendall_tau",
    oracle="""
    WITH pairs AS (
      SELECT CAST(year(l_shipdate) AS INT) AS yr, l_quantity AS x,
             l_discount AS y, CAST(COUNT(*) AS HUGEINT) AS c
      FROM lineitem GROUP BY 1, 2, 3),
    cd AS (
      SELECT a.yr,
             SUM(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END) AS cc,
             SUM(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END) AS dd
      FROM pairs a JOIN pairs b ON a.yr = b.yr AND b.x > a.x
      GROUP BY 1),
    tx AS (
      SELECT yr, SUM(t * (t - 1)) AS n1x2
      FROM (SELECT yr, x, SUM(c) AS t FROM pairs GROUP BY 1, 2)
      GROUP BY 1),
    ty AS (
      SELECT yr, SUM(t * (t - 1)) AS n2x2
      FROM (SELECT yr, y, SUM(c) AS t FROM pairs GROUP BY 1, 2)
      GROUP BY 1),
    tot AS (SELECT yr, SUM(c) AS n FROM pairs GROUP BY 1)
    SELECT tot.yr AS ship_year, CAST(n AS BIGINT) AS n_rows,
           CAST(2 * COALESCE(cc, 0) AS BIGINT) AS concordant_x2,
           CAST(2 * COALESCE(dd, 0) AS BIGINT) AS discordant_x2,
           CASE WHEN (n * (n - 1) - n1x2) > 0
                 AND (n * (n - 1) - n2x2) > 0 THEN
             ROUND(CAST(COALESCE(cc, 0) - COALESCE(dd, 0) AS DOUBLE)
                   / (sqrt(CAST(n * (n - 1) - n1x2 AS DOUBLE) / 2)
                      * sqrt(CAST(n * (n - 1) - n2x2 AS DOUBLE) / 2)),
                   6)
           END AS tau_b
    FROM tot LEFT JOIN cd ON tot.yr = cd.yr
    JOIN tx ON tot.yr = tx.yr JOIN ty ON tot.yr = ty.yr
    ORDER BY 1
    """,
)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ship-year KENDALL tau-b of quantity vs discount
    (operators/profile.py: kendall_tau_b) — the pairwise-ordering
    member completing the correlation trio beside
    agg_correlation_matrix (Pearson: linear) and agg_spearman_rank
    (Spearman: rank-monotone): P[concordant] − P[discordant] with the
    tie correction that keeps discrete columns in [−1, 1].  Every
    count comes from the (year, x, y) PAIR-COUNT contingency frame —
    concordant/discordant mass via a self-join restricted to x₂ > x₁
    on the 50×11 distinct-pair frame (Σk² ≈ 3·10⁵ row pairs
    regardless of corpus size), tie terms from the marginals, all
    exact DECIMAL(38,0); floats only in the two square roots and the
    final round-6 quotient.  ONE data shuffle (the pair-count agg,
    pinned + released on materialize)."""
    from big_data_validator_spark.operators.profile import kendall_tau_b

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    return D.materialize_release(
        kendall_tau_b(li, "ship_year", "l_quantity", "l_discount")
    )


@query(
    "ts_xcorr_daily",
    oracle="""
    WITH da AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE) * 100)
                  AS HUGEINT) AS x
      FROM orders GROUP BY 1),
    db AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(CAST(SUM(l_quantity) AS DOUBLE)) AS HUGEINT)
               AS y
      FROM lineitem GROUP BY 1),
    j AS (SELECT da.d, x, y FROM da JOIN db USING (d)),
    c AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS HUGEINT) AS t,
             CAST(COUNT(*) OVER () AS HUGEINT) AS n,
             CAST(COUNT(*) OVER () AS HUGEINT) * x
               - SUM(x) OVER () AS cx,
             CAST(COUNT(*) OVER () AS HUGEINT) * y
               - SUM(y) OVER () AS cy
      FROM j),
    lags AS (SELECT CAST(unnest(generate_series(-7, 7)) AS INT) AS lag),
    nums AS (
      SELECT l.lag,
             SUM(CASE WHEN l.lag >= 0 THEN a.cx * b.cy
                      ELSE a.cy * b.cx END) AS num
      FROM lags l CROSS JOIN c a JOIN c b ON b.t = a.t + abs(l.lag)
      GROUP BY 1),
    den AS (SELECT SUM(cx * cx) AS dx, SUM(cy * cy) AS dy,
                   CAST(MAX(n) AS BIGINT) AS n_days
            FROM c)
    SELECT l.lag, den.n_days,
           CASE WHEN den.dx > 0 AND den.dy > 0 THEN
             ROUND(CAST(nums.num AS DOUBLE)
                   / (sqrt(CAST(den.dx AS DOUBLE))
                      * sqrt(CAST(den.dy AS DOUBLE))), 6)
           END AS xcorr
    FROM lags l LEFT JOIN nums USING (lag) CROSS JOIN den
    WHERE den.n_days > 0
    ORDER BY l.lag
    """,
)
def ts_xcorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged CROSS-correlation of daily order revenue vs daily
    shipped quantity (operators/timeseries.py: xcorr_daily) — the
    lead/lag detector extending ts_acf_daily to feed PAIRS: orders
    lead shipments by the fulfilment delay, so the peak sits at a
    positive lag; a metric that tracks another with a lag is derived,
    not independent.  Both series center to pure integers on their
    COMMON days (cx = n·x − Sx on the joined set), every numerator
    and both denominators exact DECIMAL(38,0); floats only in the two
    square roots and the final round-6 quotient.  TWO data shuffles
    (one per-day agg per feed); the date join, the one-pass lead
    columns and per-lag sums all on the calendar-bounded joined
    frame.  Oracle computes the same integers via an index self-join
    on |lag|."""
    from big_data_validator_spark.operators.timeseries import xcorr_daily

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return xcorr_daily(
        orders, "o_orderdate", "o_totalprice",
        li, "l_shipdate", "l_quantity",
        max_lag=7, scale_a=100, scale_b=1,
    )


@query(
    "curation_dsir_weights",
    oracle="""
    WITH toks AS (
      SELECT doc_id, doc_id < 20 AS is_t,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents),
    feats AS (
      SELECT doc_id, is_t,
             list_concat(t,
               CASE WHEN len(t) >= 2 THEN
                 list_transform(generate_series(1, len(t) - 1),
                                i -> t[i] || ' ' || t[i + 1])
               ELSE CAST([] AS VARCHAR[]) END) AS f
      FROM toks),
    fx AS (
      SELECT doc_id, is_t,
             CAST(CAST('0x' || substr(md5(unnest(f)), 1, 8) AS UBIGINT)
                  % 4096 AS BIGINT) AS b
      FROM feats WHERE len(f) > 0),
    counts AS (
      SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
      FROM fx GROUP BY 1),
    tot AS (
      SELECT SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS nt,
             SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS nr
      FROM fx)
    SELECT doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_feats,
           ROUND(AVG(ln((ct + 0.5) / nt) - ln((cr + 0.5) / nr)), 4)
             AS dsir_score
    FROM fx JOIN counts USING (b), tot
    WHERE NOT is_t
    GROUP BY 1
    """,
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/curation.py:
    dsir_importance_weights — Xie et al. 2023): every raw document
    scored by its mean hashed-ngram log-likelihood ratio against the
    target slice (docs 0-19 here), the public train-data selection
    recipe that needs only two count tables, no model.  Featurization
    (unigrams + bigrams → 4096 md5 buckets) is ROW-LOCAL array
    arithmetic; the only shuffles are the bucket-count aggregation
    (≤4096 rows, broadcast back) and the per-document mean — at 100 TB
    the corpus streams twice and nothing else moves."""
    from big_data_validator_spark.operators.curation import (
        dsir_importance_weights,
    )

    docs = _rb(_t(spark, sf_dir, "documents"))
    # The operator pins the exploded unigram+bigram occurrence frame;
    # release it with the other oracle-checked entries (ADVICE r12).
    return D.materialize_release(
        dsir_importance_weights(docs, lambda c: c < 20, n_buckets=4096)
    )


@query(
    "drift_mannwhitney_by_segment",
    oracle="""
    WITH base AS (
      SELECT c_mktsegment AS segment,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS v
      FROM customer
      WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL),
    cnts AS (
      SELECT segment, v, CAST(COUNT(*) AS HUGEINT) AS c
      FROM base GROUP BY 1, 2),
    grp AS (SELECT v, SUM(c) AS t FROM cnts GROUP BY 1),
    vals AS (
      SELECT v, t,
             COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cb
      FROM grp),
    gl AS (SELECT SUM(t) AS n, SUM(t * t * t - t) AS ties FROM vals),
    per AS (
      SELECT segment, SUM(c) AS ng,
             SUM(c * (2 * cb + t + 1)) AS r2
      FROM cnts JOIN vals USING (v) GROUP BY 1),
    vr AS (
      SELECT segment, ng, n - ng AS nr, ties, n,
             CAST(r2 - ng * (ng + 1) AS BIGINT) AS u_seg_x2,
             CAST(ng AS DOUBLE) * CAST(n - ng AS DOUBLE) / 12.0
             * ((CAST(n AS DOUBLE) + 1)
                - CAST(ties AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
               AS var
      FROM per, gl)
    SELECT segment,
           CAST(ng AS BIGINT) AS n_seg,
           CAST(nr AS BIGINT) AS n_rest,
           u_seg_x2,
           CASE WHEN n > 1 AND nr > 0 AND var > 0 THEN
             ROUND((CAST(u_seg_x2 AS DOUBLE)
                    - CAST(ng AS DOUBLE) * CAST(nr AS DOUBLE))
                   / (2.0 * SQRT(var)), 6)
           END AS z
    FROM vr ORDER BY 1
    """,
)
def drift_mannwhitney_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ONE-VS-REST Mann–Whitney U for every market segment's account
    balances against the rest of the customer base
    (operators/relational.py: mannwhitney_by_segment) — the
    segment-scan companion to drift_mannwhitney: instead of one
    hand-picked a-vs-b pair, all |G| one-vs-rest tests come out of a
    SINGLE pass because for one-vs-rest the pooled sample is the whole
    table, so the below-counts, tie sizes, and the Σ(t³−t) correction
    are global and shared by every segment.  Doubled midranks keep
    2·R_g and 2·U_g exact DECIMAL(38,0); the per-segment z is the only
    float (round-6).  ONE data shuffle (the (segment, value)
    pair-count agg, pinned + released on materialize); the global
    cumulative is an ``operators.block_scan`` of the distinct-value
    frame."""
    c = _t(spark, sf_dir, "customer").withColumn(
        "cents", F.round(F.col("c_acctbal") * 100, 0).cast("long")
    )
    return D.materialize_release(
        R.mannwhitney_by_segment(
            c, "c_mktsegment", "cents", bin_width=1_000_000
        )
    )


@query(
    "ts_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE) * 100)
                  AS HUGEINT) AS v
      FROM orders GROUP BY 1),
    s AS (
      SELECT COALESCE(SUM(CASE WHEN b.v > a.v THEN 1
                                WHEN b.v < a.v THEN -1
                                ELSE 0 END), 0) AS s
      FROM daily a JOIN daily b ON b.d > a.d),
    t AS (
      SELECT COALESCE(SUM(t), 0) AS n,
             COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie18,
             COALESCE(SUM(t * (t - 1)), 0) AS n1x2
      FROM (SELECT CAST(COUNT(*) AS HUGEINT) AS t
            FROM daily GROUP BY v)),
    f AS (
      SELECT s, n, n1x2,
             n * (n - 1) * (2 * n + 5) - tie18 AS var18,
             n * (n - 1) AS n0x2
      FROM s, t)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(s AS BIGINT) AS s_stat,
           CAST(var18 AS BIGINT) AS var_s_x18,
           CASE WHEN n0x2 > 0 AND n0x2 - n1x2 > 0 THEN
             ROUND(CAST(s AS DOUBLE)
                   / (SQRT(CAST(n0x2 - n1x2 AS DOUBLE) / 2)
                      * SQRT(CAST(n0x2 AS DOUBLE) / 2)), 6)
           END AS tau_b,
           CASE WHEN var18 > 0 THEN
             CASE WHEN s = 0 THEN CAST(0.0 AS DOUBLE)
                  ELSE ROUND((CAST(s AS DOUBLE)
                              - SIGN(CAST(s AS DOUBLE)))
                             / SQRT(CAST(var18 AS DOUBLE) / 18.0), 6)
             END
           END AS z
    FROM f
    """,
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL trend test on daily order revenue
    (operators/timeseries.py: mann_kendall_trend) — the SIGNIFICANCE
    half of the trend question whose magnitude half is
    ts_theilsen_trend: S counts pairwise day orderings (±1 per pair, a
    pure integer), the tie-corrected variance ships pre-division as
    the exact integer var_s_x18 = n(n−1)(2n+5) − Σt(t−1)(2t+5), and
    floats appear only in the round-6 tau_b (the kendall_tau_b ×2
    device, time untied) and continuity-corrected z.  ONE data
    shuffle (the per-day cents agg, pinned + released on
    materialize); the sign self-join runs every unordered day pair
    once on the calendar-bounded daily frame — broadcast-NLJ,
    corpus-size-independent."""
    from big_data_validator_spark.operators.timeseries import (
        mann_kendall_trend,
    )

    o = _t(spark, sf_dir, "orders")
    return D.materialize_release(
        mann_kendall_trend(o, "o_orderdate", "o_totalprice",
                           value_scale=100)
    )


def _cramers_oracle_sql() -> str:
    """Oracle for agg_cramers_v_matrix: one chi² block per unordered
    column pair over the same derived (priority, status, year) frame,
    each reproducing the exact truncating-div ppm identity
    chi2_ppm = Σ (o²·n·10⁶) // (rₐ·c_b) − n·10⁶ (DuckDB ``//`` ==
    Spark ``div`` on non-negatives), unioned in operator pair order."""
    pairs = [
        ("o_orderpriority", "o_orderstatus"),
        ("o_orderpriority", "order_year"),
        ("o_orderstatus", "order_year"),
    ]
    ctes = [
        "base AS (SELECT o_orderpriority, o_orderstatus,"
        " CAST(year(o_orderdate) AS INT) AS order_year FROM orders)"
    ]
    arms = []
    for k, (cx, cy) in enumerate(pairs):
        ctes.append(f"""
    cells_{k} AS (
      SELECT {cx} AS x, {cy} AS y, CAST(COUNT(*) AS HUGEINT) AS o
      FROM base WHERE {cx} IS NOT NULL AND {cy} IS NOT NULL
      GROUP BY 1, 2),
    ra_{k} AS (SELECT x, SUM(o) AS ra FROM cells_{k} GROUP BY 1),
    cb_{k} AS (SELECT y, SUM(o) AS cb FROM cells_{k} GROUP BY 1),
    tot_{k} AS (
      SELECT SUM(o) AS n,
             CAST(COUNT(DISTINCT x) AS HUGEINT) AS r,
             CAST(COUNT(DISTINCT y) AS HUGEINT) AS c
      FROM cells_{k}),
    agg_{k} AS (
      SELECT SUM((o * o * n * 1000000) // (ra * cb))
               - MAX(n) * 1000000 AS chi2ppm,
             MAX(n) AS n, MAX(r) AS r, MAX(c) AS c
      FROM cells_{k} JOIN ra_{k} USING (x) JOIN cb_{k} USING (y),
           tot_{k})""")
        arms.append(f"""
    SELECT '{cx}' AS col_x, '{cy}' AS col_y,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_rows,
           CAST(COALESCE(r, 0) AS BIGINT) AS x_levels,
           CAST(COALESCE(c, 0) AS BIGINT) AS y_levels,
           CAST(chi2ppm AS BIGINT) AS chi2_ppm,
           CASE WHEN n > 0 AND LEAST(r, c) > 1 THEN
             ROUND(SQRT(CAST(chi2ppm AS DOUBLE) / 1e6
                        / (CAST(n AS DOUBLE)
                           * (CAST(LEAST(r, c) AS DOUBLE) - 1))), 6)
           END AS cramers_v
    FROM agg_{k}""")
    return "WITH " + ",".join(ctes) + " ".join(
        (" UNION ALL" if i else "") + arm for i, arm in enumerate(arms)
    )


@query("agg_cramers_v_matrix", oracle=_cramers_oracle_sql())
def agg_cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMÉR'S V association matrix over order priority, status, and
    order year (operators/profile.py: cramers_v_matrix) — the
    categorical completion of the association suite beside
    agg_spearman_rank / agg_kendall_tau (ordered) and
    profile_mutual_information (bits): chi-square effect size
    normalized to [0, 1], the screen that finds derived or redundant
    columns before a modeler trusts them as independent (status is a
    year-derived flag in TPC-H — old orders are all 'F' — so that
    pair's V reads high by construction).  The identity
    X² = n·Σ o²/(rₐ·c_b) − n makes every cell term exact
    truncating-div ppm integers (the Gini/HHI discipline); the only
    float is the final round-6 V.  ONE contingency shuffle per pair
    (map-side combined, cells not rows); marginals broadcast back on
    the tiny cell frame."""
    from big_data_validator_spark.operators.profile import cramers_v_matrix

    o = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    return cramers_v_matrix(
        o, ["o_orderpriority", "o_orderstatus", "order_year"]
    )


@query(
    "drift_segment_bh_scan",
    oracle="""
    WITH base AS (
      SELECT CAST(c_nationkey AS INT) AS segment,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS v
      FROM customer
      WHERE c_acctbal IS NOT NULL AND c_nationkey IS NOT NULL),
    cnts AS (
      SELECT segment, v, CAST(COUNT(*) AS HUGEINT) AS c
      FROM base GROUP BY 1, 2),
    grp AS (SELECT v, SUM(c) AS t FROM cnts GROUP BY 1),
    vals AS (
      SELECT v, t,
             COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cb
      FROM grp),
    gl AS (SELECT SUM(t) AS n, SUM(t * t * t - t) AS ties FROM vals),
    per AS (
      SELECT segment, SUM(c) AS ng,
             SUM(c * (2 * cb + t + 1)) AS r2
      FROM cnts JOIN vals USING (v) GROUP BY 1),
    st1 AS (
      SELECT segment, ng, n - ng AS nr, n, ties,
             r2 - ng * (ng + 1) AS u2,
             r2 - ng * (ng + 1) - ng * (n - ng) AS d
      FROM per, gl),
    st2 AS (
      SELECT segment, ng, nr, u2, d,
             3 * d * d * n * (n - 1) AS num,
             ng * nr * (n * (n - 1) * (n + 1) - ties) AS den
      FROM st1),
    pv AS (
      SELECT segment,
             CAST(ng AS BIGINT) AS n_seg,
             CAST(nr AS BIGINT) AS n_rest,
             CAST(u2 AS BIGINT) AS u_seg_x2,
             CASE WHEN den > 0 THEN
               CASE WHEN d = 0 OR den >= num
                    THEN CAST(1000000 AS BIGINT)
                    ELSE CAST((1000000 * den) // num AS BIGINT) END
             END AS p_cheby_ppm
      FROM st2),
    rk AS (
      SELECT *,
             CASE WHEN p_cheby_ppm IS NOT NULL THEN
               CAST(ROW_NUMBER() OVER (
                 ORDER BY (p_cheby_ppm IS NULL), p_cheby_ppm, segment)
                 AS BIGINT) END AS p_rank,
             COUNT(p_cheby_ppm) OVER () AS m
      FROM pv),
    kk AS (
      SELECT *,
             MAX(CASE WHEN CAST(p_cheby_ppm AS HUGEINT) * m
                        <= 50000 * p_rank
                      THEN p_rank END) OVER () AS k
      FROM rk)
    SELECT segment, n_seg, n_rest, u_seg_x2, p_cheby_ppm, p_rank,
           CASE WHEN p_cheby_ppm IS NOT NULL
                THEN COALESCE(p_rank <= k, FALSE) END AS bh_reject
    FROM kk ORDER BY segment
    """,
)
def drift_segment_bh_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest Mann–Whitney scan over all 25 customer nations'
    account balances with BENJAMINI-HOCHBERG false-discovery control
    (operators/relational.py: mannwhitney_bh_scan) — the decision
    layer the segment scan needs: 25 simultaneous tests at α = 0.05
    fabricate a "drifting" nation in roughly three runs out of four
    without correction.  The whole chain is EXACT integer arithmetic:
    the doubled centered statistic d = 2U − n_g·n_rest, the
    tie-corrected z² as the integer pair (3d²N(N−1),
    n_g·n_rest·(N(N−1)(N+1) − Σ(t³−t))), the distribution-free
    Chebyshev bound p_ppm = min(10⁶, 10⁶·den div num), and the BH
    step-up p_(i)·m ≤ α·i — no erf, no floats, the oracle replays
    every branch bit-for-bit.  ONE data shuffle (the (segment, value)
    pair-count agg, pinned + released on materialize); BH windows run
    on the 25-row frame."""
    c = _t(spark, sf_dir, "customer").withColumn(
        "cents", F.round(F.col("c_acctbal") * 100, 0).cast("long")
    ).withColumn("c_nationkey", F.col("c_nationkey").cast("int"))
    return D.materialize_release(
        R.mannwhitney_bh_scan(
            c, "c_nationkey", "cents",
            alpha_ppm=50_000, bin_width=1_000_000,
        )
    )


@query(
    "ts_ols_trend",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS d,
             CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE) * 100)
                  AS HUGEINT) AS y
      FROM orders GROUP BY 1, 2),
    idx AS (
      SELECT g,
             CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY d) - 1
                  AS HUGEINT) AS x,
             y
      FROM daily),
    m AS (
      SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM idx GROUP BY 1)
    SELECT g AS o_orderpriority,
           CAST(n AS BIGINT) AS n_days,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             CAST((1000000 * (n * sxy - sx * sy))
                  // (n * sxx - sx * sx) AS BIGINT) END AS slope_micro,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             CAST((1000000 * (sy * sxx - sx * sxy))
                  // (n * sxx - sx * sx) AS BIGINT) END
             AS intercept_micro,
           CASE WHEN n * sxx - sx * sx > 0
                 AND n * syy - sy * sy > 0 THEN
             ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                   * CAST(n * sxy - sx * sy AS DOUBLE)
                   / (CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6)
           END AS r2
    FROM m ORDER BY 1
    """,
)
def ts_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority OLS daily revenue trend
    (operators/timeseries.py: ols_trend_by_group) — the classical fit
    completing the trend family's question set (ts_theilsen_trend:
    robust slope; ts_mann_kendall: distribution-free significance;
    OLS: textbook slope + level + the R² that says how much of the
    series the line explains).  Each group's daily series reduces to
    six exact DECIMAL(38,0) moment sums with the day index centered
    per group (0..n−1 — uncentered epoch days push num² past
    DECIMAL(38,0)); slope and intercept ship as exact truncating-div
    micro units (Spark div == DuckDB //), R² the only float
    (round-6).  ONE data shuffle (the (group, day) cents agg), one
    calendar-bounded window for the index, one tiny moments agg — no
    joins, embarrassingly parallel across groups."""
    from big_data_validator_spark.operators.timeseries import (
        ols_trend_by_group,
    )

    o = _t(spark, sf_dir, "orders")
    return ols_trend_by_group(
        o, "o_orderpriority", "o_orderdate", "o_totalprice",
        value_scale=100,
    )


@query(
    "rule_mcnemar_disagreement",
    oracle="""
    WITH base AS (
      SELECT l_extendedprice >= 50000 AS a, l_quantity >= 40 AS b
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END)
                  AS BIGINT) AS "both",
             CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                  AS BIGINT) AS only_a,
             CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
                  AS BIGINT) AS only_b,
             CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                  AS BIGINT) AS neither
      FROM base)
    SELECT n_rows, "both", only_a, only_b, neither,
           CASE WHEN only_a + only_b > 0 THEN
             CAST((CAST(only_a - only_b AS HUGEINT)
                   * (only_a - only_b) * 1000000)
                  // (only_a + only_b) AS BIGINT) END
             AS mcnemar_x2_ppm,
           CASE WHEN only_a + only_b > 0 THEN
             CASE WHEN abs(only_a - only_b) <= 1
                  THEN CAST(0 AS BIGINT)
                  ELSE CAST(((CAST(abs(only_a - only_b) AS HUGEINT)
                              - 1)
                             * (abs(only_a - only_b) - 1) * 1000000)
                            // (only_a + only_b) AS BIGINT) END END
             AS mcnemar_cc_x2_ppm,
           CASE WHEN only_a + only_b > 0 THEN
             CAST((CAST(only_a AS HUGEINT) * 1000000)
                  // (only_a + only_b) AS BIGINT) END
             AS only_a_share_ppm
    FROM t
    """,
)
def rule_mcnemar_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR paired-rule disagreement between two "large line" rule
    versions — value-based (l_extendedprice ≥ 50000) vs volume-based
    (l_quantity ≥ 40) — on the SAME rows (operators/relational.py:
    mcnemar_paired_rules): the marginal-homogeneity question a
    validator has when it ships rule v2 beside v1 (are the
    disagreements symmetric, or does the new rule systematically flag
    a different population?), which the independence-oriented chi²/V
    tests don't answer.  Only the discordant cells carry information;
    the 2×2 table and both X² statistics (plain + Edwards continuity
    correction) ship as exact truncating-div ppm integers — no floats
    anywhere, the oracle replays every branch.  ONE scan, ONE
    conditional aggregation, no shuffle beyond the single-row
    reduce."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_quantity").isNotNull()
    )
    return R.mcnemar_paired_rules(
        li,
        F.col("l_extendedprice") >= 50000,
        F.col("l_quantity") >= 40,
    )


@query(
    "streaming_mannwhitney_drift",
    oracle=f"""
    WITH runs(run_id) AS (VALUES (0), (1), (2), (3)),
    src AS (
      SELECT {_DRIFT_RUN_CASE} AS rid,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    ref AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    pooled AS (
      SELECT r.run_id, s.v, 1 AS ca, 0 AS cb
      FROM runs r JOIN src s ON s.rid <= r.run_id
      UNION ALL
      SELECT r.run_id, e.v, 0 AS ca, 1 AS cb
      FROM runs r CROSS JOIN ref e),
    cnts AS (
      SELECT run_id, v, SUM(ca) AS na, SUM(cb) AS nb
      FROM pooled GROUP BY 1, 2),
    ord AS (
      SELECT run_id, v, na, nb, na + nb AS t,
             COALESCE(SUM(na + nb) OVER (PARTITION BY run_id ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS c
      FROM cnts),
    agg AS (
      SELECT run_id,
             CAST(SUM(na) AS BIGINT) AS n_a,
             CAST(SUM(nb) AS BIGINT) AS n_b,
             SUM(CAST(na AS HUGEINT)
                 * (2 * CAST(c AS HUGEINT) + t + 1)) AS r2a,
             SUM(CAST(t AS HUGEINT) * t * t - t) AS ties
      FROM ord GROUP BY 1),
    fin AS (
      SELECT run_id, n_a, n_b, ties,
             CAST(r2a - CAST(n_a AS HUGEINT)
                        * (CAST(n_a AS HUGEINT) + 1) AS BIGINT)
               AS u_a_x2
      FROM agg),
    vr AS (
      SELECT *,
             CAST(n_a AS DOUBLE) * n_b / 12.0
             * ((n_a + n_b + 1)
                - CAST(ties AS DOUBLE)
                  / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))
               AS var
      FROM fin)
    SELECT CAST(run_id AS BIGINT) AS run_id, n_a, n_b, u_a_x2,
           CAST(2 * CAST(n_a AS HUGEINT) * n_b AS BIGINT) - u_a_x2
             AS u_b_x2,
           CASE WHEN n_a + n_b > 1 AND var > 0 THEN
             ROUND((CAST(u_a_x2 AS DOUBLE)
                    - CAST(n_a AS DOUBLE) * n_b)
                   / (2.0 * SQRT(var)), 6)
           END AS z
    FROM vr ORDER BY run_id
    """,
)
def streaming_mannwhitney_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING Mann–Whitney drift monitor, oracle-checked end-to-end
    (streaming/validate_stream.py: stream_mannwhitney_drift): after
    every micro-batch the CUMULATIVE stream is rank-tested against the
    static reference distribution with the exact doubled-midrank U —
    the rank-based member joining the streaming bench beside the PSI
    and Markov monitors (no bin edges to tune; a stochastic ordering
    shift that binned PSI dilutes registers directly in z).  Runs 0/1
    are uniform samples (|z| small); runs 2/3 stream only the high /
    only the low half of the value range, dragging the cumulative rank
    mass visibly.  State is the committed-parquet repository protocol
    twice over (per-batch count DELTAS + statistic rows, both under
    the _SUCCESS marker skip; the reference counts materialize once) —
    no driver state, and the statistic is mwu_from_value_counts, the
    SAME math as the batch mannwhitney_u, which is what lets DuckDB
    replay all four cumulative prefixes as one windowed query."""
    from big_data_validator_spark.streaming.validate_stream import (
        read_metrics_repository,
        stream_mannwhitney_drift,
    )

    src = _drift_stream_source(spark, sf_dir)
    reference = _t(spark, sf_dir, "events").select("value")
    return _bounded_drain(
        spark,
        "streaming_mannwhitney_drift",
        lambda d: stream_mannwhitney_drift(
            _ordered_stream(spark, src),
            reference,
            value_col="value",
            repo_path=f"{d.root}/repo",
            checkpoint_path=d.checkpoint,
            value_scale=100,
        ),
        lambda d: read_metrics_repository(spark, f"{d.root}/repo/stats").select(
            "run_id", "n_a", "n_b", "u_a_x2", "u_b_x2", "z"
        ),
    )


# =====================================================================
# Public API consumed by __spark_entry__.py
# =====================================================================

#: The correctness driver records rows for the first 50 entries of
#: ``all_queries()`` only; ``driver_order`` decides which 50.
_DRIVER_WINDOW_SIZE = 50
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _correctness_paths() -> list[str]:
    """The git-tracked ``CORRECTNESS_r*.json`` files at the repo root.

    A new round's file can land in the worktree untracked; reading only
    tracked files keeps the order (and COVERAGE.md) a function of the
    committed tree.  Falls back to a glob where git is unavailable (e.g. an
    exported tarball).
    """
    try:
        out = subprocess.run(
            ["git", "ls-files", "CORRECTNESS_r*.json"],
            cwd=_REPO_ROOT,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.split()
        if out:
            return sorted(os.path.join(_REPO_ROOT, p) for p in out)
    except (OSError, subprocess.CalledProcessError):
        pass
    return sorted(glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")))


def correctness_history() -> dict[str, list[tuple[int, dict]]]:
    """Entry name -> ``[(round, driver row), ...]`` over the tracked files."""
    history: dict[str, list[tuple[int, dict]]] = {}
    for path in _correctness_paths():
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if isinstance(row, dict):
                    history.setdefault(name, []).append((rnd, row))
    return history


def is_green(row: dict) -> bool:
    """The driver's full gate: row count, schema and value hash all match."""
    return bool(
        row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
    )


def driver_order(history: dict[str, list[tuple[int, dict]]]) -> list[str]:
    """Registry names in the order the driver should check them.

    A counting record is a green row for an oracled entry and any row with
    ``spark_rows >= 0`` for a rows-only one.  Entries without one come
    first, then oracled entries least recently green first, then rows-only
    entries; ties keep definition order (``sorted`` is stable).
    """

    def counts(row: dict, rows_only: bool) -> bool:
        if rows_only:
            return row.get("spark_rows") is not None and row["spark_rows"] >= 0
        return is_green(row)

    def key(name: str) -> tuple[bool, bool, int]:
        rows_only = REGISTRY[name].oracle is None
        rounds = [r for r, row in history.get(name, []) if counts(row, rows_only)]
        return (bool(rounds), rows_only, max(rounds, default=0))

    return sorted(REGISTRY, key=key)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver's ``queries()`` in ``driver_order``; its first
    ``_DRIVER_WINDOW_SIZE`` names are the correctness window."""
    order = driver_order(correctness_history())
    return {name: REGISTRY[name].fn for name in order}


def all_oracles() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle
    }
