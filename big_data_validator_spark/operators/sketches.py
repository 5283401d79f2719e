"""Mergeable quantile sketches (KLL/MRL shape) — the percentile sibling
of the HLL distinct-count architecture (``agg_hll_mergeable``,
VERDICT r8 item 4).

Why this exists at 100 TB: an exact percentile needs the value
distribution — a rolling "p99 over the last 30 days" monitor that
recomputes exactly must rescan 30 days of raw data every tick.  A
MERGEABLE sketch changes the shape: each partition summarizes its
values into a few-KB state (map-side, one pass), states merge
associatively per day, per-day sketch rows persist in a tiny metadata
table, and the rolling percentile is an N-ROW MERGE of stored sketches
— the raw table is read exactly once per day ever.

Algorithm: the Manku–Rajagopalan–Lindsay / KLL family with FIXED
per-level capacity ``k`` and DETERMINISTIC alternating compaction
offsets (the classic KLL randomizes the offset; alternation keeps the
same error-cancellation telescoping while making a given input order
reproduce bit-identically — important for debuggability, NOT relied on
for correctness: the rank-error bound below holds for every offset
choice).  Level ``i`` items carry weight ``2^i``; a full level sorts
and promotes every other item to level ``i+1``.  Size is
``O(k · log(n/k))``; worst-case rank error is bounded by the number of
compactions times half a level weight and behaves like ~1% of n at
``k = 200`` (property-pinned in tests/test_sketches.py across random
inputs; the shipped entries assert a conservative ±2.5% rank check
against the exact CDF).

Everything engine-facing is integers (the repo's hash discipline):
values must arrive as BIGINT units (cents, micros).  The sketch state
itself is partitioning-dependent (which rows share a partition changes
compaction order), so oracled entries never ship sketch internals —
they ship the EXACT percentile (block-CDF device, below) plus an
``est_ok`` rank-tolerance verdict, so a sketch regression flips the
driver hash while the hashed values stay engine-portable (the
``agg_hll_mergeable`` device).

One pipeline, keyed by group columns: every Spark-facing operator takes
``group_cols`` and an ungrouped caller passes ``[]``.  Partial sketches
(:func:`kll_partial_sketches`, one per partition × key) merge per key
(:func:`kll_merge_groups`, or the repartition-first build of the batch
monitors), each key's rows roll up to percentile estimates
(:func:`kll_rollup_quantiles`), and one rank-verdict leg checks them
against an exact CDF (:func:`_rank_verdict`).  The global
(``agg_kll_mergeable``), per-segment (``agg_kll_by_segment``), rolling
(``agg_kll_rolling``, keyed on the report day) and streaming monitors
are this pipeline with different keys, and every merge stage folds its
sketches through one pandas kernel helper (:func:`_merged`).

The reference validator has no aggregate surface at all beyond COUNT
(``reference/big_data_validator.py`` — three row-local rules); this
module is north-star scope.
"""

from __future__ import annotations

import json
import math
from typing import Iterable, Iterator, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_validator_spark.operators import (
    adaptive_partitions,
    block_scan,
    pin,
)

DEFAULT_K = 200


# ------------------------------------------------------------ pure sketch

def kll_new(k: int = DEFAULT_K) -> dict:
    if k < 8:
        raise ValueError(f"k must be >= 8, got {k}")
    return {"k": k, "n": 0, "levels": [[]], "flips": [0]}


def _compact_level(sk: dict, i: int) -> None:
    """Sort level ``i``, promote every other item (alternating offset)
    to level ``i+1`` with doubled weight, clear level ``i``."""
    levels = sk["levels"]
    flips = sk["flips"]
    if i + 1 == len(levels):
        levels.append([])
        flips.append(0)
    buf = sorted(levels[i])
    off = flips[i] & 1
    flips[i] += 1
    levels[i + 1].extend(buf[off::2])
    levels[i] = []


def kll_add_many(sk: dict, values: Iterable[int]) -> None:
    """Add ``values`` in order; compaction fires exactly when level 0
    reaches ``k+1`` items, as a per-value add would, but the python loop
    is amortized: level 0 is extended in chunks up to its trigger point
    instead of one append + one capacity check per value."""
    vals = [int(v) for v in values]
    k = sk["k"]
    n = len(vals)
    i = 0
    while i < n:
        lvl0 = sk["levels"][0]
        take = max(1, min(k + 1 - len(lvl0), n - i))
        lvl0.extend(vals[i : i + take])
        sk["n"] += take
        i += take
        j = 0
        while j < len(sk["levels"]) and len(sk["levels"][j]) > k:
            _compact_level(sk, j)
            j += 1


def kll_merge(a: dict, b: dict) -> dict:
    """Associative merge: concatenate level-wise, then re-compact any
    level over capacity.  ``merge(sketch(A), sketch(B))`` estimates
    quantiles of ``A ∪ B`` within the same rank-error bound as a
    sketch built from the union directly (pinned in tests)."""
    if a["k"] != b["k"]:
        raise ValueError(f"cannot merge sketches with k={a['k']} and k={b['k']}")
    depth = max(len(a["levels"]), len(b["levels"]))
    out = {
        "k": a["k"],
        "n": a["n"] + b["n"],
        "levels": [
            list(a["levels"][i] if i < len(a["levels"]) else [])
            + list(b["levels"][i] if i < len(b["levels"]) else [])
            for i in range(depth)
        ],
        "flips": [
            (a["flips"][i] if i < len(a["flips"]) else 0)
            + (b["flips"][i] if i < len(b["flips"]) else 0)
            for i in range(depth)
        ],
    }
    i = 0
    while i < len(out["levels"]):
        if len(out["levels"][i]) > out["k"]:
            _compact_level(out, i)
        i += 1
    return out


def kll_quantiles(sk: dict, fractions: Sequence[float]) -> list:
    """Smallest stored item whose cumulative weight reaches
    ``ceil(p · W)`` — the discrete-rank convention the exact verifier
    and the SQL oracles share."""
    items = sorted(
        (v, 1 << i)
        for i, lvl in enumerate(sk["levels"])
        for v in lvl
    )
    total = sum(w for _, w in items)
    out = []
    for p in fractions:
        if not items:
            out.append(None)
            continue
        target = max(1, math.ceil(p * total))
        cum = 0
        est = items[-1][0]
        for v, w in items:
            cum += w
            if cum >= target:
                est = v
                break
        out.append(est)
    return out


def kll_serialize(sk: dict) -> str:
    return json.dumps(
        {"k": sk["k"], "n": sk["n"], "levels": sk["levels"], "flips": sk["flips"]},
        separators=(",", ":"),
    )


def kll_deserialize(s: str) -> dict:
    d = json.loads(s)
    return {
        "k": int(d["k"]),
        "n": int(d["n"]),
        "levels": [list(map(int, lvl)) for lvl in d["levels"]],
        "flips": list(map(int, d.get("flips", [0] * len(d["levels"])))),
    }


# --------------------------------------------------------- spark plumbing

def _merged(sketches: Iterable[str], k: int) -> dict:
    """Fold serialized sketches into one: the merge kernel every
    pandas stage below runs."""
    sk = kll_new(k)
    for s in sketches:
        sk = kll_merge(sk, kll_deserialize(s))
    return sk


def _key_fields(df: DataFrame, cols: Sequence[str]) -> list:
    by_name = {f.name: f for f in df.schema.fields}
    return [by_name[c] for c in cols]


def _sketch_schema(df: DataFrame, group_cols: Sequence[str]) -> T.StructType:
    return T.StructType(
        _key_fields(df, group_cols)
        + [
            T.StructField("sketch", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), False),
        ]
    )


def kll_partial_sketches(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    k: int = DEFAULT_K,
) -> DataFrame:
    """Map-side partial sketches: ONE pass over the input emitting one
    ``(group…, sketch, n_rows)`` row per (partition × group) — the
    level-0 combine of the two-level aggregation.  With no group
    columns each partition holding a value emits one ``(sketch,
    n_rows)`` row.  No shuffle happens here; the output is
    change-of-support, rows → sketch rows, sized ``partitions ×
    groups-per-partition``, each a few KB.

    ``value_col`` must already be integral (BIGINT units — cents,
    micros); NULL values are skipped (SQL aggregate convention).
    """
    gcols = list(group_cols)
    out_schema = _sketch_schema(df, gcols)
    # loud-overflow discipline: a fractional value column would be
    # silently TRUNCATED by the long cast, and the sketch would
    # quietly estimate quantiles of floor(x) — refuse instead (the
    # robust_outlier_mad guard class).  Integral types cast losslessly.
    vtype = dict(df.dtypes)[value_col]
    if vtype in ("float", "double") or vtype.startswith("decimal"):
        raise ValueError(
            f"kll_partial_sketches: {value_col!r} is {vtype}; sketch "
            "values must be integer units (cents, micros) — scale and "
            "round explicitly first, a long cast would truncate"
        )
    src = df.select(*gcols, F.col(value_col).cast("long").alias("_v"))

    def build(batches: Iterator) -> Iterator:
        import pandas as pd

        acc: dict = {}
        for pdf in batches:
            vals = pdf[pdf["_v"].notna()]
            if len(vals) == 0:
                continue
            groups = (
                vals.groupby(gcols, dropna=False, sort=False)
                if gcols
                else [((), vals)]
            )
            for key, sub in groups:
                if not isinstance(key, tuple):
                    key = (key,)
                sk = acc.get(key)
                if sk is None:
                    sk = acc[key] = kll_new(k)
                kll_add_many(sk, sub["_v"].astype("int64").tolist())
        rows = [
            list(key) + [kll_serialize(sk), sk["n"]]
            for key, sk in acc.items()
        ]
        yield pd.DataFrame(rows, columns=[*gcols, "sketch", "n_rows"])

    return src.mapInPandas(build, out_schema)


def _per_key_sketches(
    df: DataFrame, value_col: str, keys: Sequence[str], k: int
) -> DataFrame:
    """One sketch row per ``keys`` value: the raw rows are repartitioned
    on the key FIRST so the partial build emits exactly one sketch per
    stored key.  Map-side partials (one sketch row per partition × key,
    then a merge) drown in python sketch-object overhead under a
    row-random layout with many keys (32 partitions × ~2400 days ≈ the
    row count: measured 11.8 s against ~2 s repartitioned at sf0.1);
    with key locality a merge stage would be 1-row groups of pure
    applyInPandas overhead, so there is none.

    The partition count is EXPLICIT (r14): a bare keyed repartition is
    AQE-coalescible, and the shuffled bytes here are tiny while the
    python build is CPU-bound — profiled at sf0.1, AQE coalesced the
    build to 3 tasks (1.3 s of the query's 3.4 s).  So the width is at
    least the session parallelism (every core holds a slice of the key
    space), and input-bytes-adaptive above it so partitions stay
    memory-sized at scale."""
    width = max(
        adaptive_partitions(df),
        df.sparkSession.sparkContext.defaultParallelism,
    )
    return kll_partial_sketches(
        df.repartition(width, *[F.col(c) for c in keys]), value_col, keys, k
    )


def kll_merge_groups(
    partials: DataFrame,
    group_cols: Sequence[str],
    k: int = DEFAULT_K,
) -> DataFrame:
    """Merge partial sketches into ONE row per group (one row in all
    with no group columns) — the persistable per-day/per-partition
    sketch table.  The shuffle moves sketch rows (KBs per group), never
    data rows."""
    gcols = list(group_cols)
    out_schema = _sketch_schema(partials, gcols)

    def merge(pdf):
        import pandas as pd

        sk = _merged(pdf["sketch"], k)
        key = [pdf.iloc[0][c] for c in gcols]
        return pd.DataFrame(
            [key + [kll_serialize(sk), int(pdf["n_rows"].sum())]],
            columns=[*gcols, "sketch", "n_rows"],
        )

    return partials.groupBy(*gcols).applyInPandas(merge, out_schema)


def kll_rollup_quantiles(
    sketches: DataFrame,
    group_cols: Sequence[str],
    quantile_pcts: Sequence[int],
    k: int = DEFAULT_K,
) -> DataFrame:
    """The payoff step: merge each group's stored sketch ROWS (never the
    raw data) and read the requested percentiles.  Returns ``(group…,
    quantile_pct, est, n_rows)``; with no group columns every row merges
    into one global sketch in a single task.  The shuffle moves sketch
    rows only — exactly the "rolling percentile without rescan"
    contract."""
    gcols = list(group_cols)
    pcts = [int(p) for p in quantile_pcts]
    out_schema = T.StructType(
        _key_fields(sketches, gcols)
        + [
            T.StructField("quantile_pct", T.IntegerType(), False),
            T.StructField("est", T.LongType(), True),
            T.StructField("n_rows", T.LongType(), False),
        ]
    )

    def rollup(pdf):
        import pandas as pd

        sk = _merged(pdf["sketch"], k)
        ests = kll_quantiles(sk, [p / 100.0 for p in pcts])
        n = int(pdf["n_rows"].sum())
        key = [pdf.iloc[0][c] for c in gcols]
        return pd.DataFrame(
            [key + [p, e, n] for p, e in zip(pcts, ests)],
            columns=[*gcols, "quantile_pct", "est", "n_rows"],
        )

    return (
        sketches.select(*gcols, "sketch", "n_rows")
        .groupBy(*gcols)
        .applyInPandas(rollup, out_schema)
    )


def _fan_out(
    df: DataFrame,
    day_col: str,
    window_days: int,
    report_from: str,
    report_to: str,
) -> DataFrame:
    """The bounded interval explode (the ``events_rolling_distinct``
    device): each row of ``df`` repeats, with its report day as
    ``_rd``, for the ≤``window_days`` report days in ``[report_from,
    report_to]`` whose trailing window contains its ``day_col`` —
    linear in rows, never a re-scan."""
    day, rd = F.col(day_col), F.col("_rd")
    return (
        df.filter(
            (day > F.date_sub(F.lit(report_from), window_days))
            & (day <= F.lit(report_to))
        )
        .withColumn(
            "_rd", F.explode(F.sequence(day, F.date_add(day, window_days - 1)))
        )
        .filter((rd >= F.lit(report_from)) & (rd <= F.lit(report_to)))
    )


def kll_rolling_quantiles(
    per_day: DataFrame,
    day_col: str,
    pct: int,
    window_days: int,
    report_from: str,
    report_to: str,
    k: int = DEFAULT_K,
) -> DataFrame:
    """THE payoff query of the mergeable-sketch architecture: a trailing
    ``window_days`` percentile for every report day, computed ONLY from
    the stored per-day sketch rows — the raw table is not touched.

    Each sketch day fans out to the ≤``window_days`` report days whose
    trailing window contains it (:func:`_fan_out`), then
    :func:`kll_rollup_quantiles` merges each report day's
    ≤``window_days`` sketch rows.  At 100 TB this reads KBs per
    day instead of the window's raw partitions; a 30-day rolling p99
    over a year is ~365 × 30 sketch-row merges, total MBs.

    Returns ``(_rd, quantile_pct, est, n_rows)`` keyed by report day
    ``_rd`` — ``n_rows`` is exact (sketch row counts are exact even
    though ranks are approximate)."""
    fan = _fan_out(per_day, day_col, window_days, report_from, report_to)
    return kll_rollup_quantiles(fan, ["_rd"], [pct], k)


# ------------------------------------------------- exact verification leg

def exact_rank_cdf(
    df: DataFrame,
    value_col: str,
    block_width: int,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact cumulative distribution over DISTINCT values without a
    global sort: per-distinct-value counts (one shuffle, frame shrinks
    to the value domain) run through
    :func:`~big_data_validator_spark.operators.block_scan`.  Returns
    ``(group…, _v, cum_le)`` where ``cum_le`` = #rows in the group with
    value ≤ ``_v``.  Any positive ``block_width`` yields the identical
    frame.

    With ``group_cols`` the scan is ADDITIONALLY partitioned by the
    group key (VERDICT r9 item 4), so no window ever sees more than one
    group's value domain — the per-key variant costs the same one
    shuffle, and the broadcast prefix relation grows only to
    groups × blocks rows.  NULL group keys are excluded (join-on-key
    convention downstream)."""
    if block_width <= 0:
        raise ValueError(f"block_width must be positive, got {block_width}")
    gcols = list(group_cols)
    v = F.col(value_col)
    src = df.filter(v.isNotNull())
    for c in gcols:
        src = src.filter(F.col(c).isNotNull())
    cnts = src.groupBy(
        *gcols, v.cast("long").alias("_v")
    ).agg(F.count(F.lit(1)).alias("_n"))
    blk = F.floor(F.col("_v") / F.lit(int(block_width))).cast("long")
    return block_scan(cnts, blk, ["_v"], ["_n"], gcols).select(
        *gcols,
        "_v",
        (F.col("_n_before") + F.col("_n")).cast("long").alias("cum_le"),
    )


_TOL_PPM = 25_000


def _rank_verdict(
    est: DataFrame, cdf: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """The rank-verdict leg every monitor ends in: given sketch
    ESTIMATES ``(keys…, quantile_pct, est, n_rows)`` and an exact CDF
    ``(keys…, _v, cum_le)``, each estimate's exact percentile is the
    smallest ``_v`` whose ``cum_le`` reaches the integer rank ``_r =
    (pct·n + 99) div 100``, and ``est_ok`` is ``|rank(est) − _r| ≤
    (_TOL_PPM·n) div 10⁶`` (integer arithmetic end-to-end), where
    ``rank(est)`` is the ``cum_le`` of the largest value ≤ ``est`` (0
    below every value).  Returns ``(keys…, quantile_pct, exact,
    n_rows, est_ok)``.

    Both relations feed MULTIPLE joins and Spark shares no subplans:
    uncached, the whole estimate pipeline would re-run per consumer
    (measured: 47 shuffles vs ~10), so both are pinned
    (:func:`~big_data_validator_spark.operators.pin`)."""
    keys = list(keys)
    est = pin(est)
    cdf = pin(cdf)
    targets = est.select(
        *keys,
        "quantile_pct",
        "est",
        "n_rows",
        F.expr("(quantile_pct * n_rows + 99) div 100").alias("_r"),
    )
    t = F.broadcast(targets)
    cdf_k = cdf.select(
        *[F.col(c).alias(f"_k_{c}") for c in keys], "_v", "cum_le"
    )
    on_key = [cdf_k[f"_k_{c}"] == t[c] for c in keys]
    exact = (
        cdf_k.join(t, [*on_key, cdf_k["cum_le"] >= t["_r"]])
        .groupBy(*keys, "quantile_pct")
        .agg(F.min("_v").alias("exact"))
    )
    est_rank = (
        cdf_k.join(t, [*on_key, cdf_k["_v"] <= t["est"]])
        .groupBy(*keys, "quantile_pct")
        .agg(F.max("cum_le").alias("_est_rank"))
    )
    return (
        targets.join(exact, [*keys, "quantile_pct"])
        .join(est_rank, [*keys, "quantile_pct"], "left")
        .select(
            *keys,
            "quantile_pct",
            "exact",
            "n_rows",
            (
                F.abs(F.coalesce(F.col("_est_rank"), F.lit(0)) - F.col("_r"))
                <= F.expr(f"({_TOL_PPM} * n_rows) div 1000000")
            ).alias("est_ok"),
        )
    )


def kll_verify_quantiles(
    est: DataFrame,
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    block_width: int = 1_000_000,
) -> DataFrame:
    """The exact-verification leg shared by the batch monitor and the
    streaming repository consumers: given per-group sketch ESTIMATES
    ``(group…, quantile_pct, est, n_rows)`` from any builder (``[]``
    for one global distribution), verify each against the exact
    block-scan CDF of ``df`` (:func:`exact_rank_cdf`) with
    :func:`_rank_verdict`.  NULL group keys are excluded."""
    return _rank_verdict(
        est, exact_rank_cdf(df, value_col, block_width, group_cols), group_cols
    )


def kll_quantile_monitor(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    day_col: str,
    quantile_pcts: Sequence[int],
    k: int = DEFAULT_K,
    block_width: int = 1_000_000,
) -> DataFrame:
    """End-to-end sketch-vs-exact monitor, oracle-ready: build one
    mergeable sketch per (group, day), merge each group's day rows to
    percentile ESTIMATES, then verify each estimate's RANK against the
    exact per-group block-scan CDF.  ``group_cols=[]`` tracks one
    global distribution; a group key gives the shape real latency/size
    monitors need — p90 *per customer segment* (VERDICT r9 item 4).

    Ships ``(group…, quantile_pct, exact, n_rows, est_ok)`` — the
    estimate itself is partitioning-dependent and never leaves;
    ``exact`` is the integer percentile at rank ``(pct·n + 99) div
    100`` and ``est_ok`` the ±``_TOL_PPM`` rank verdict
    (:func:`_rank_verdict`), so a sketch accuracy regression flips the
    oracle hash while every hashed value stays engine-exact.  The exact
    CDF leg is the VERIFICATION device — production reads the sketch
    table alone.  NULL group keys are excluded on both legs.
    """
    gcols = list(group_cols)
    src = df
    for c in gcols:
        src = src.filter(F.col(c).isNotNull())
    per_key = _per_key_sketches(src, value_col, [*gcols, day_col], k)
    est = kll_rollup_quantiles(per_key, gcols, quantile_pcts, k)
    return kll_verify_quantiles(
        est, src, value_col, gcols, block_width=block_width
    )


def kll_rolling_monitor(
    df: DataFrame,
    value_col: str,
    day_col: str,
    pct: int,
    window_days: int,
    report_from: str,
    report_to: str,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Rolling-percentile monitor, oracle-ready: per-day sketches →
    :func:`kll_rolling_quantiles` (sketch-row merges only) per report
    day, verified per day against the exact trailing percentile.

    The exact leg never globally sorts: per-(day, value) counts fan out
    through the SAME bounded interval explode (:func:`_fan_out`),
    cumulative counts run in windows PARTITIONED by report day over
    the distinct-value frame, and :func:`_rank_verdict` reads the
    exact percentile and the rank verdict keyed on the report day.
    Ships ``(day, exact, n_rows, est_ok)`` — the estimate stays
    internal (partitioning-dependent), the ``agg_kll_mergeable``
    discipline."""
    est = kll_rolling_quantiles(
        _per_key_sketches(df, value_col, [day_col], k),
        day_col, pct, window_days, report_from, report_to, k,
    )
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(day_col, F.col(value_col).cast("long").alias("_v"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    cdf = (
        _fan_out(counts, day_col, window_days, report_from, report_to)
        .groupBy("_rd", "_v")
        .agg(F.sum("_n").alias("_w"))
        .select(
            "_rd",
            "_v",
            F.sum("_w")
            .over(
                Window.partitionBy("_rd")
                .orderBy("_v")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            .alias("cum_le"),
        )
    )
    return _rank_verdict(est, cdf, ["_rd"]).select(
        F.col("_rd").alias(day_col), "exact", "n_rows", "est_ok"
    )
