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

The reference validator has no aggregate surface at all beyond COUNT
(``reference/big_data_validator.py`` — three row-local rules); this
module is north-star scope.
"""

from __future__ import annotations

import json
import math
from typing import Iterable, Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_validator_spark.operators import block_scan, pin

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

def _sketch_build_partitions(df: DataFrame) -> int:
    """Width for the keyed exchange feeding a python sketch-build
    stage: at least the session parallelism (the stage is CPU-bound in
    python, so every core should hold a slice of the key space), and
    input-bytes-adaptive above it so partitions stay memory-sized at
    scale."""
    from big_data_validator_spark.operators import adaptive_partitions

    return max(
        adaptive_partitions(df),
        df.sparkSession.sparkContext.defaultParallelism,
    )


def _sketch_schema(df: DataFrame, group_cols: Sequence[str]) -> T.StructType:
    by_name = {f.name: f for f in df.schema.fields}
    fields = [by_name[c] for c in group_cols]
    return T.StructType(
        fields
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
    level-0 combine of the two-level aggregation.  No shuffle happens
    here; the output is change-of-support, rows → sketch rows, sized
    ``partitions × groups-per-partition``, each a few KB.

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
            if len(pdf) == 0:
                continue
            mask = pdf["_v"].notna()
            for key, sub in pdf[mask].groupby(gcols, dropna=False, sort=False):
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


def kll_merge_groups(
    partials: DataFrame,
    group_cols: Sequence[str],
    k: int = DEFAULT_K,
) -> DataFrame:
    """Merge partial sketches into ONE row per group — the persistable
    per-day/per-partition sketch table.  The shuffle moves sketch rows
    (KBs per group), never data rows."""
    gcols = list(group_cols)
    out_schema = _sketch_schema(partials, gcols)

    def merge(pdf):
        import pandas as pd

        sk = kll_new(k)
        for s in pdf["sketch"]:
            sk = kll_merge(sk, kll_deserialize(s))
        key = [pdf.iloc[0][c] for c in gcols]
        return pd.DataFrame(
            [key + [kll_serialize(sk), int(pdf["n_rows"].sum())]],
            columns=[*gcols, "sketch", "n_rows"],
        )

    return partials.groupBy(*gcols).applyInPandas(
        lambda pdf: merge(pdf), out_schema
    )


def kll_rollup_quantiles(
    sketches: DataFrame,
    quantile_pcts: Sequence[int],
    k: int = DEFAULT_K,
) -> DataFrame:
    """The payoff step: merge N stored sketch ROWS (never the raw data)
    and read the requested percentiles.  Returns ``(quantile_pct,
    est, n_rows)``.  The merge is a single task over N few-KB rows —
    exactly the "rolling percentile without rescan" contract."""
    pcts = [int(p) for p in quantile_pcts]
    out_schema = T.StructType(
        [
            T.StructField("quantile_pct", T.IntegerType(), False),
            T.StructField("est", T.LongType(), True),
            T.StructField("n_rows", T.LongType(), False),
        ]
    )

    def rollup(pdf):
        import pandas as pd

        sk = kll_new(k)
        for s in pdf["sketch"]:
            sk = kll_merge(sk, kll_deserialize(s))
        ests = kll_quantiles(sk, [p / 100.0 for p in pcts])
        n = int(pdf["n_rows"].sum())
        return pd.DataFrame(
            [[p, e, n] for p, e in zip(pcts, ests)],
            columns=["quantile_pct", "est", "n_rows"],
        )

    return (
        sketches.select(
            F.lit(1).alias("_g"), "sketch", "n_rows"
        )
        .groupBy("_g")
        .applyInPandas(lambda pdf: rollup(pdf), out_schema)
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
    trailing window contains it (the bounded interval explode of
    ``events_rolling_distinct`` — linear in sketch rows, never a
    re-scan), then each report day merges its ≤``window_days`` sketch
    rows.  At 100 TB this reads KBs per day instead of the window's
    raw partitions; a 30-day rolling p99 over a year is ~365 × 30
    sketch-row merges, total MBs.

    Returns ``(day_col, est, n_rows)`` — ``n_rows`` is exact (sketch
    row counts are exact even though ranks are approximate)."""
    rd = F.col("_rd")
    fan = (
        per_day.filter(
            (F.col(day_col) > F.date_sub(F.lit(report_from), window_days))
            & (F.col(day_col) <= F.lit(report_to))
        )
        .select(
            F.explode(
                F.sequence(
                    F.col(day_col),
                    F.date_add(F.col(day_col), window_days - 1),
                )
            ).alias("_rd"),
            "sketch",
            "n_rows",
        )
        .filter((rd >= F.lit(report_from)) & (rd <= F.lit(report_to)))
    )
    out_schema = T.StructType(
        [
            T.StructField(day_col, T.DateType(), False),
            T.StructField("est", T.LongType(), True),
            T.StructField("n_rows", T.LongType(), False),
        ]
    )
    frac = pct / 100.0

    def roll(key, pdf):
        import pandas as pd

        sk = kll_new(k)
        for s in pdf["sketch"]:
            sk = kll_merge(sk, kll_deserialize(s))
        return pd.DataFrame(
            [[key[0], kll_quantiles(sk, [frac])[0], int(pdf["n_rows"].sum())]],
            columns=[day_col, "est", "n_rows"],
        )

    return fan.groupBy("_rd").applyInPandas(
        lambda key, pdf: roll(key, pdf), out_schema
    )


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


def kll_quantile_monitor(
    df: DataFrame,
    value_col: str,
    day_col: str,
    quantile_pcts: Sequence[int],
    k: int = DEFAULT_K,
    block_width: int = 1_000_000,
) -> DataFrame:
    """End-to-end sketch-vs-exact monitor, oracle-ready: build one
    mergeable sketch per day, roll all days up to
    global percentile ESTIMATES by merging sketch rows, then verify
    each estimate's RANK against the exact block-scan CDF.

    Ships ``(quantile_pct, exact, n_rows, est_ok)`` — the estimate
    itself is partitioning-dependent and never leaves; ``est_ok`` is
    ``|rank(est) − ceil(p·n)| ≤ (tol_ppm·n) div 10⁶`` (integer
    arithmetic end-to-end), so a sketch accuracy regression flips the
    driver hash while every hashed value stays engine-exact.  The
    exact CDF leg is the VERIFICATION device — production reads the
    sketch table alone.
    """
    pcts = [int(p) for p in quantile_pcts]
    # The raw rows are repartitioned on the day FIRST so exactly one
    # sketch is built per day.  Map-side partials (one sketch row per
    # partition × day, then a merge) drown in python sketch-object
    # overhead under a row-random layout with many days (32 partitions
    # × ~2400 days ≈ the row count: measured 11.8 s against ~2 s
    # repartitioned at sf0.1).  With day-locality the merge stage would
    # be 1-row groups of pure applyInPandas overhead, so there is none.
    # Explicit count: see kll_group_quantile_monitor (AQE would
    # coalesce the CPU-bound python build stage by its tiny bytes).
    per_day = kll_partial_sketches(
        df.repartition(_sketch_build_partitions(df), F.col(day_col)),
        value_col,
        [day_col],
        k,
    )
    est = kll_rollup_quantiles(per_day, pcts, k)
    return kll_verify_quantiles(est, df, value_col, block_width=block_width)


def kll_verify_quantiles(
    est: DataFrame,
    df: DataFrame,
    value_col: str,
    block_width: int = 1_000_000,
) -> DataFrame:
    """The shared exact-verification leg: given sketch ESTIMATES
    ``(quantile_pct, est, n_rows)`` (from any builder — batch rollup or
    streaming repository), compute the exact percentile at integer
    rank ``(pct·n + 99) div 100`` from the block-scan CDF of ``df``
    and the ``est_ok`` rank-tolerance verdict.

    Both relations feed MULTIPLE joins and Spark shares no subplans:
    uncached, the whole estimate pipeline would re-run per consumer
    (measured: 47 shuffles vs ~10), so both are pinned
    (:func:`~big_data_validator_spark.operators.pin`)."""
    est = pin(est)
    cdf = pin(exact_rank_cdf(df, value_col, block_width))
    targets = est.select(
        "quantile_pct",
        "est",
        "n_rows",
        F.expr("(quantile_pct * n_rows + 99) div 100").alias("_r"),
    )
    t = F.broadcast(targets)
    exact = (
        cdf.join(t, cdf["cum_le"] >= t["_r"])
        .groupBy("quantile_pct")
        .agg(F.min("_v").alias("exact"))
    )
    # rank of the estimate: cum_le of the largest distinct value ≤ est
    # (0 when the estimate sits below every value)
    est_rank = (
        cdf.join(t, cdf["_v"] <= t["est"])
        .groupBy("quantile_pct")
        .agg(F.max("cum_le").alias("_est_rank"))
    )
    return (
        targets.join(exact, "quantile_pct")
        .join(est_rank, "quantile_pct", "left")
        .select(
            "quantile_pct",
            "exact",
            "n_rows",
            (
                F.abs(F.coalesce(F.col("_est_rank"), F.lit(0)) - F.col("_r"))
                <= F.expr(f"({_TOL_PPM} * n_rows) div 1000000")
            ).alias("est_ok"),
        )
    )


def kll_group_rollup_quantiles(
    sketches: DataFrame,
    group_cols: Sequence[str],
    quantile_pcts: Sequence[int],
    k: int = DEFAULT_K,
) -> DataFrame:
    """Per-GROUP percentile read-off from stored sketch rows: merge each
    group's rows (e.g. its daily sketches) and emit ``(group…,
    quantile_pct, est, n_rows)`` — :func:`kll_rollup_quantiles` with the
    merge keyed on the group instead of collapsing to one global row.
    The shuffle moves sketch rows only; each merge task touches one
    group's few-KB rows."""
    gcols = list(group_cols)
    pcts = [int(p) for p in quantile_pcts]
    by_name = {f.name: f for f in sketches.schema.fields}
    out_schema = T.StructType(
        [by_name[c] for c in gcols]
        + [
            T.StructField("quantile_pct", T.IntegerType(), False),
            T.StructField("est", T.LongType(), True),
            T.StructField("n_rows", T.LongType(), False),
        ]
    )

    def rollup(pdf):
        import pandas as pd

        sk = kll_new(k)
        for s in pdf["sketch"]:
            sk = kll_merge(sk, kll_deserialize(s))
        ests = kll_quantiles(sk, [p / 100.0 for p in pcts])
        n = int(pdf["n_rows"].sum())
        key = [pdf.iloc[0][c] for c in gcols]
        return pd.DataFrame(
            [key + [p, e, n] for p, e in zip(pcts, ests)],
            columns=[*gcols, "quantile_pct", "est", "n_rows"],
        )

    return sketches.groupBy(*gcols).applyInPandas(
        lambda pdf: rollup(pdf), out_schema
    )


def kll_group_quantile_monitor(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    day_col: str,
    quantile_pcts: Sequence[int],
    k: int = DEFAULT_K,
    block_width: int = 1_000_000,
) -> DataFrame:
    """Per-KEY percentile monitor (VERDICT r9 item 4): the shape real
    latency/size monitors need — p90 *per customer segment*, per day —
    where :func:`kll_quantile_monitor` tracks one global distribution.

    Pipeline: repartition the raw rows on (group, day) FIRST so the
    partial build emits exactly ONE sketch per stored key (as in
    :func:`kll_quantile_monitor` — map-side partials under a
    row-random layout build partitions×keys tiny python sketches and
    drown in object overhead; with the grouped key the cardinality is
    groups×days, strictly worse), then merge each group's day rows to
    per-group estimates, then verify each against the exact per-group
    block-scan CDF.

    Ships ``(group…, quantile_pct, exact, n_rows, est_ok)`` under the
    shared hash discipline: sketch internals never leave; ``exact`` is
    the integer per-group percentile at rank ``(pct·n_g + 99) div 100``
    and ``est_ok`` the ±tol_ppm rank verdict, so a sketch accuracy
    regression flips the driver hash while every hashed value stays
    engine-exact.  NULL group keys are excluded on both legs.
    """
    gcols = list(group_cols)
    pcts = [int(p) for p in quantile_pcts]
    src = df
    for c in gcols:
        src = src.filter(F.col(c).isNotNull())
    # EXPLICIT partition count (r14): a bare keyed repartition is
    # AQE-coalescible, and the shuffled bytes here are tiny while the
    # downstream python sketch build is CPU-bound — profiled at sf0.1,
    # AQE coalesced the build to 3 tasks (1.3s of the query's 3.4s).
    # Bytes are the wrong coalescing signal for a python-kernel stage
    # (guide §2.5: partition for the work, not the bytes).
    per_key = kll_partial_sketches(
        src.repartition(
            _sketch_build_partitions(df),
            *[F.col(c) for c in [*gcols, day_col]],
        ),
        value_col,
        [*gcols, day_col],
        k,
    )
    est = kll_group_rollup_quantiles(per_key, gcols, pcts, k)
    return kll_group_verify_quantiles(
        est, src, value_col, gcols, block_width=block_width
    )


def kll_group_verify_quantiles(
    est: DataFrame,
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    block_width: int = 1_000_000,
) -> DataFrame:
    """Per-GROUP exact-verification leg (the grouped twin of
    :func:`kll_verify_quantiles`, shared by the batch monitor and the
    streaming repository consumer): given per-group estimates
    ``(group…, quantile_pct, est, n_rows)`` from ANY builder, compute
    each group's exact percentile at integer rank
    ``(pct·n_g + 99) div 100`` from the grouped block-scan CDF of
    ``df`` plus the ±``_TOL_PPM`` rank verdict.  Both relations feed
    multiple joins (Spark shares no subplans), so both are pinned.
    NULL group keys are excluded on both legs."""
    gcols = list(group_cols)
    src = df
    for c in gcols:
        src = src.filter(F.col(c).isNotNull())
    est = pin(est)
    cdf = pin(exact_rank_cdf(src, value_col, block_width, gcols))
    targets = est.select(
        *gcols,
        "quantile_pct",
        "est",
        "n_rows",
        F.expr("(quantile_pct * n_rows + 99) div 100").alias("_r"),
    )
    t = F.broadcast(targets)
    c_g = [F.col(c).alias(f"_cg_{c}") for c in gcols]
    cdf_r = cdf.select(*c_g, "_v", "cum_le")
    on_group = [cdf_r[f"_cg_{c}"] == t[c] for c in gcols]
    exact = (
        cdf_r.join(t, [*on_group, cdf_r["cum_le"] >= t["_r"]])
        .groupBy(*gcols, "quantile_pct")
        .agg(F.min("_v").alias("exact"))
    )
    est_rank = (
        cdf_r.join(t, [*on_group, cdf_r["_v"] <= t["est"]])
        .groupBy(*gcols, "quantile_pct")
        .agg(F.max("cum_le").alias("_est_rank"))
    )
    return (
        targets.join(exact, [*gcols, "quantile_pct"])
        .join(est_rank, [*gcols, "quantile_pct"], "left")
        .select(
            *gcols,
            "quantile_pct",
            "exact",
            "n_rows",
            (
                F.abs(F.coalesce(F.col("_est_rank"), F.lit(0)) - F.col("_r"))
                <= F.expr(f"({_TOL_PPM} * n_rows) div 1000000")
            ).alias("est_ok"),
        )
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
    through the SAME bounded interval explode (≤``window_days`` report
    days each), cumulative counts run in windows PARTITIONED by report
    day over the distinct-value frame, and the exact percentile is the
    smallest value whose cumulative count reaches the integer target
    rank.  Ships ``(day, exact, n_rows, est_ok)`` — the estimate stays
    internal (partitioning-dependent), the ``agg_kll_mergeable``
    discipline."""
    from pyspark.sql import Window

    # explicit width: see kll_group_quantile_monitor (AQE coalesces the
    # CPU-bound python build stage by its tiny shuffled bytes)
    per_day = kll_partial_sketches(
        df.repartition(_sketch_build_partitions(df), F.col(day_col)),
        value_col,
        [day_col],
        k,
    )
    est = pin(kll_rolling_quantiles(
        per_day, day_col, pct, window_days, report_from, report_to, k
    ))

    rd = F.col("_rd")
    dist = (
        df.filter(
            (F.col(day_col) > F.date_sub(F.lit(report_from), window_days))
            & (F.col(day_col) <= F.lit(report_to))
            & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(day_col).alias("_d"),
            F.col(value_col).cast("long").alias("_v"),
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            F.explode(
                F.sequence(
                    F.col("_d"), F.date_add(F.col("_d"), window_days - 1)
                )
            ).alias("_rd"),
            "_v",
            "_n",
        )
        .filter((rd >= F.lit(report_from)) & (rd <= F.lit(report_to)))
        .groupBy("_rd", "_v")
        .agg(F.sum("_n").alias("_w"))
    )
    cum = pin(dist.withColumn(
        "_cum",
        F.sum("_w").over(
            Window.partitionBy("_rd")
            .orderBy("_v")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    ))
    targets = est.select(
        F.col(day_col).alias("_td"),
        "est",
        "n_rows",
        F.expr(f"({int(pct)} * n_rows + 99) div 100").alias("_r"),
    )
    t = F.broadcast(targets)
    exact = (
        cum.join(
            t, (cum["_rd"] == t["_td"]) & (cum["_cum"] >= t["_r"])
        )
        .groupBy("_td")
        .agg(F.min("_v").alias("exact"))
    )
    est_rank = (
        cum.join(t, (cum["_rd"] == t["_td"]) & (cum["_v"] <= t["est"]))
        .groupBy("_td")
        .agg(F.max("_cum").alias("_est_rank"))
    )
    return (
        targets.join(exact, "_td")
        .join(est_rank, "_td", "left")
        .select(
            F.col("_td").alias(day_col),
            "exact",
            "n_rows",
            (
                F.abs(F.coalesce(F.col("_est_rank"), F.lit(0)) - F.col("_r"))
                <= F.expr(f"({_TOL_PPM} * n_rows) div 1000000")
            ).alias("est_ok"),
        )
    )
