#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints per-query detail (one JSON line + BENCH_DETAIL.json, both with the
full {name: sec} median and min maps), then the FINAL line is the compact
driver contract — small enough to always survive the driver's ~2 KB tail
capture (VERDICT r4 §1):
    {"metric": "headline_queries_total_wall", "value": <total_sec>,
     "unit": "sec", "value_min": ..., "sf": ..., "stat": "median",
     "passes": N, "n_queries": N, "queries_detail": "BENCH_DETAIL.json"}

Each query executes fully (noop sink — no driver-side row transfer, so the
measurement is the distributed plan, not collect serialization).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from typing import Optional

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

from big_data_validator_spark.queries import REGISTRY

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: Registry entries deliberately NOT benched, with the reason shipped in
#: BENCH_DETAIL.json (VERDICT r7 missing-item 3 — a silent cap reads as
#: "covered everything").  tests/test_bench_contract.py checks that every
#: key is a registry entry: after a rename, a stale key would otherwise
#: silently put the renamed entry back into HEADLINE.
EXCLUDED = {
    "dedup_ngram_jaccard": (
        "deliberately corpus-bounded exact-Jaccard demo (educational "
        "baseline); dedup_minhash_lsh is the benched scale path for "
        "the same similarity"
    ),
    "dedup_ngram_containment": (
        "same corpus-bounded inverted-index demo as dedup_ngram_jaccard "
        "(the asymmetric subset-duplication variant); the prefix-filter "
        "device (dedup_ssjoin_prefix, benched) is the scale path"
    ),
}

#: Headline set: every registry entry not EXCLUDED, in definition order.
HEADLINE = [name for name in REGISTRY if name not in EXCLUDED]


def compute_prev_ratios(
    timings: dict[str, float],
    prev_detail: Optional[dict],
    sf_val: Optional[float],
) -> dict:
    """Round-over-round attribution that survives host noise (VERDICT r8
    item 1).  The r8 post-mortem showed the same query moving ~2× between
    sessions while every within-session ratio held — so a raw
    cur/prev comparison across sessions is unfalsifiable.  The device:
    all of THIS round's queries share one session, so a uniform
    host-speed shift moves every per-query ratio by the same factor;
    the MEDIAN per-query ratio against the previous committed detail IS
    that session-noise factor, and each query's ratio divided by it
    (``ratio_vs_prev_adj``) isolates real per-query change.  An
    adjusted ratio ≫ 1 is a genuine localized regression even when the
    raw aggregate moved; adjusted ≈ 1 with raw 1.2× is host noise,
    now provable from the shipped record alone.

    Returns null fields (never raises) when the previous detail is
    absent, unparseable, or from a different scale factor.
    """
    empty = {
        "ratio_vs_prev": None,
        "ratio_vs_prev_adj": None,
        "noise_factor": None,
        "n_shared_prev": 0,
        "worst_adj": None,
    }
    if not prev_detail or not isinstance(prev_detail, dict):
        return empty
    if prev_detail.get("sf") != sf_val:
        return empty
    prev_q = prev_detail.get("queries") or {}
    ratios = {
        n: round(timings[n] / prev_q[n], 4)
        for n in timings
        if n in prev_q and prev_q[n] and prev_q[n] > 0
    }
    if not ratios:
        return empty
    noise = statistics.median(ratios.values())
    if noise <= 0:
        return empty
    adj = {n: round(r / noise, 4) for n, r in ratios.items()}
    worst_name = max(adj, key=adj.get)
    return {
        "ratio_vs_prev": ratios,
        "ratio_vs_prev_adj": adj,
        "noise_factor": round(noise, 4),
        "n_shared_prev": len(ratios),
        "worst_adj": {"name": worst_name, "ratio": adj[worst_name]},
    }


def main() -> None:
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("bdv-bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "32g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up (untimed): first JVM job + first Arrow python-worker spawn
    # are session costs, not query costs — standard bench hygiene so each
    # query's number reflects its plan, not who ran first.
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf

    spark.range(1000).select(F.sum("id")).collect()

    @pandas_udf("long")
    def _warm(v):
        return v

    spark.range(1000).repartition(int(CPUS)).select(_warm("id")).write.mode(
        "overwrite"
    ).format("noop").save()

    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    # TEST-SUPPORT ONLY (r14): the contract test exercises this script
    # end-to-end (subprocess, JSON line, detail file) but a full
    # 217-query pass at sf0.001 cost 356 s of the pytest wall — the
    # single reason the r13 verify run exceeded the driver's budget.
    # The driver never sets this variable, so every real bench run
    # times the complete HEADLINE; a limited run still records
    # n_queries, so a truncated detail can never masquerade as a full
    # one.
    limit = int(os.environ.get("SPARK_GRAFT_BENCH_HEADLINE_LIMIT", "0"))
    headline = HEADLINE[:limit] if limit > 0 else HEADLINE
    samples: dict[str, list[float]] = {name: [] for name in headline}
    # one untimed warm pass (JIT/codegen caches, file-index warm), then
    # `passes` timed runs reported as the per-query MEDIAN: single-shot
    # numbers on a shared host swing 3-6x from scheduler noise; the median
    # is robust to one bad run AND attributable round-over-round (a min
    # hides regressions that only show in the typical run)
    for timed in [False] + [True] * passes:
        for name in headline:
            fn = REGISTRY[name].fn
            start = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            if timed:
                samples[name].append(time.perf_counter() - start)
    timings = {
        name: round(statistics.median(vals), 3)
        for name, vals in samples.items()
    }
    # BOTH stats ship every round so a stat change can never again confound
    # round-over-round attribution (r1 reported min-of-2, r2 median-of-3,
    # and the switch masqueraded as a regression — VERDICT r2 §6):
    # `queries` stays the median (robust, headline), `queries_min` is the
    # noise floor (best observed run — what the plan costs when the shared
    # host isn't interfering).
    timings_min = {
        name: round(min(vals), 3) for name, vals in samples.items()
    }

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf else None
    # Previous round's committed detail, read BEFORE this run overwrites
    # it — the denominator of the session-noise device (see
    # compute_prev_ratios).  Env-overridable for tests.
    prev_path = os.environ.get(
        "SPARK_GRAFT_PREV_DETAIL",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
        ),
    )
    try:
        with open(prev_path) as fh:
            prev_detail = json.load(fh)
    except (OSError, ValueError):
        prev_detail = None
    prev = compute_prev_ratios(timings, prev_detail, sf_val)
    # The driver records only the TAIL (~2 KB) of stdout: a single line
    # carrying both per-query maps grew past that in r3/r4 and was
    # truncated mid-map — two rounds with no machine-readable perf
    # record (VERDICT r4 §1).  So: per-query detail goes to a file AND a
    # separate preceding line (truncation there is harmless), and the
    # FINAL line is a compact primary contract guaranteed to fit.
    detail = {
        "metric": "headline_queries_detail",
        "queries": timings,
        "queries_min": timings_min,
        "sf": sf_val,
        # explicit, machine-readable exclusion record (VERDICT r7
        # missing-item 3): silence reads as "covered everything"
        "excluded": EXCLUDED,
        # session-noise-adjusted round-over-round attribution
        # (VERDICT r8 item 1): raw per-query ratio vs the previous
        # committed detail, the fleet-median noise factor, and the
        # noise-adjusted per-query ratio that isolates real change
        "ratio_vs_prev": prev["ratio_vs_prev"],
        "ratio_vs_prev_adj": prev["ratio_vs_prev_adj"],
        "noise_factor": prev["noise_factor"],
        "n_shared_prev": prev["n_shared_prev"],
    }
    # Overridable so the sf0.001 contract test never clobbers the
    # committed sf0.1 detail record (r5's checked-in file was silently
    # a test-run artifact, making round-over-round comparison a trap).
    detail_path = os.environ.get(
        "SPARK_GRAFT_DETAIL_PATH",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
        ),
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "value_min": round(sum(timings_min.values()), 3),
                "sf": sf_val,
                "stat": "median",
                "passes": passes,
                "n_queries": len(timings),
                "queries_detail": "BENCH_DETAIL.json",
                # compact noise-device summary: the fleet-median shift
                # vs the previous round's detail (host-speed factor)
                # and the single worst noise-ADJUSTED per-query ratio —
                # enough on its own to tell "uniform host noise" from
                # "this query regressed"
                "noise_factor": prev["noise_factor"],
                "n_shared_prev": prev["n_shared_prev"],
                "worst_adj": prev["worst_adj"],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
