"""Deterministic sampling and splitting for training-data pipelines.

Large-corpus pipelines sample by CONTENT KEY, not by RNG state: a row's
fate must be reproducible across reruns, cluster sizes, and partitionings
(``df.sample()`` is seed-stable only for a fixed partitioning).  Everything
here derives the decision from a hash of a key column, so it is:

- **deterministic**: same key → same verdict, on any cluster layout;
- **shuffle-free** for Bernoulli sampling and splitting (a filter /
  projection — no exchange at all);
- **disjoint-and-covering** for splits (one hash, contiguous ranges);
- **oracle-able** when the hash is an engine-portable digest (md5 of the
  key string sorts identically in Spark and DuckDB, so the stratified
  exact sample has a SQL oracle).

At 100 TB the Bernoulli paths are pure map-side codegen; the stratified
exact sample shuffles one (strata, key) tuple per row and Spark plans
``WindowGroupLimit``, so each partition forwards only its per-stratum
top-k candidates.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Granularity of the hash → [0, 1) mapping used for fractions.
_BUCKETS = 1_000_000


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: Sequence[float],
    seed: int = 42,
    split_col: str = "split",
) -> DataFrame:
    """Tag every row with a split index (0..len(weights)-1) from contiguous
    hash ranges: splits are DISJOINT and COVER the input exactly — the
    train/val/test contract.  A single projection; filter on ``split_col``
    downstream and the predicate pushes into the scan.

    Bucket device: the first 8 hex digits of ``md5("<key>:<seed>")``,
    the device the other samplers use, so ANY engine can recompute
    which split a key landed in — the property an external auditor (or
    the DuckDB oracle) needs to certify that no eval row leaked into
    train.  It is still a single map-side projection at any scale.

    NULL keys are REJECTED (raise inside the split expression — the
    same contract as ``shuffle_shards``): every NULL row would hash to
    the one constant bucket and silently pile into a single split,
    which is exactly the correlated-assignment defect a split key must
    not have."""
    total = float(sum(weights))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    null_guard = F.when(
        F.col(key_col).isNull(),
        F.raise_error(
            F.lit(
                f"hash_split: NULL in key column {key_col!r}; NULL "
                "keys would all collapse into one split"
            )
        ).cast("long"),
    )
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.encode(
                        F.concat_ws(
                            ":",
                            F.col(key_col).cast("string"),
                            F.lit(str(seed)),
                        ),
                        "UTF-8",
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(_BUCKETS),
    )
    expr = F.lit(len(weights) - 1)
    acc = 0.0
    # build right-to-left so each WHEN tests the cumulative upper bound
    bounds = []
    for w in weights[:-1]:
        acc += w / total
        bounds.append(int(round(acc * _BUCKETS)))
    for i in range(len(bounds) - 1, -1, -1):
        expr = F.when(bucket < bounds[i], F.lit(i)).otherwise(expr)
    # the NULL guard leads the CASE chain: it is part of the split
    # expression itself, so it cannot be pruned away while the split
    # column is consumed
    expr = null_guard.otherwise(expr)
    return df.withColumn(split_col, expr)


def stratified_exact_sample(
    df: DataFrame,
    strata_cols: Sequence[str],
    k: int,
    key_col: str,
) -> DataFrame:
    """EXACTLY ``k`` rows per stratum (fewer if the stratum is smaller),
    chosen by a deterministic pseudo-random order: ``md5`` of the key
    string, tie-broken by the key.  md5 is an engine-portable digest, so
    the selection is reproducible outside Spark (the registry ships a
    DuckDB oracle for it) — unlike ``sampleBy``, which is approximate AND
    engine-specific.  Plans as one shuffle on the strata plus
    ``WindowGroupLimit`` (partitions forward only per-stratum top-k)."""
    order = F.md5(F.encode(F.col(key_col).cast("string"), "UTF-8"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*strata_cols)
        .orderBy(order.asc(), F.col(key_col).asc())
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def weighted_sample_exact(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str,
) -> DataFrame:
    """EXACTLY ``k`` rows sampled WITHOUT replacement with probability
    proportional to ``weight_col`` — the Efraimidis–Spirakis A-Res scheme
    (each row scores ``u^(1/w)`` for uniform ``u``; the top-k scores ARE
    a weighted sample), with ``u`` derived deterministically from an
    engine-portable digest instead of RNG state.

    ``u = (int(md5(key)[:8hex]) + 0.5) / 2^32`` — the same md5 device as
    :func:`stratified_exact_sample`, so the EXACT row selection is
    reproducible across reruns, partitionings, and engines (the registry
    ships a DuckDB oracle).  The +0.5 keeps ``u`` strictly inside (0,1),
    so ``pow`` never sees 0 and scores never tie at the boundary values.

    Plans as ``TakeOrderedAndProject`` (per-partition top-k, k rows to
    the driver-side reduce) — no global sort, no full shuffle; the score
    is one codegen'd projection.  This is the sampler for
    quality-weighted corpus selection (sample documents ∝ quality score)
    at 100 TB: one scan, k × partitions rows moved.

    Rows with non-positive weight are excluded (zero weight means "never
    sample"; negative weight is meaningless here).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    u = (
        F.conv(
            F.substring(
                F.md5(F.encode(F.col(key_col).cast("string"), "UTF-8")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    score = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_es_score", score)
        .orderBy(F.col("_es_score").desc(), F.col(key_col).asc())
        .limit(k)
        .drop("_es_score")
    )


def shuffle_shards(
    df: DataFrame, key_col: str, n_shards: int, seed: int = 42
) -> DataFrame:
    """Deterministic global training-order shuffle WITHOUT a global
    sort: every row gets an engine-portable pseudo-random rank (md5 of
    ``key:seed`` — the same digest device as
    :func:`stratified_exact_sample`) plus a shard id derived from that
    rank's top 32 bits.

    Writing shuffled training shards then costs ONE hash-partition
    shuffle (``repartition(n_shards, shard_id)``) and a sort WITHIN each
    shard by ``_shuffle_rank`` — never an ``orderBy`` over the full
    corpus.  Readers that consume shards in id order and rows in rank
    order within each shard stream the exact md5-rank global order
    restricted per shard — each shard is an unbiased, deterministic
    1/n_shards sample of the corpus, which is the property epoch
    shuffling actually needs (no rank correlation with source order).

    Adds ``shard_id`` (int) and ``_shuffle_rank`` (32-hex string;
    lexicographic order IS the shuffle order).  Deterministic across
    reruns, partitionings, and engines; reshuffle by changing ``seed``.

    NULL keys are REJECTED (``raise_error`` inside the rank expression —
    a codegen branch, zero extra passes): ``concat_ws`` would silently
    drop the NULL and every such row would share the identical rank
    ``md5(seed)``/shard, breaking the documented per-key deterministic
    order (ADVICE r5).  A shuffle key must identify the row; supply a
    surrogate (e.g. a row fingerprint) for keyless data.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    key = F.when(
        F.col(key_col).isNull(),
        F.raise_error(
            F.lit(
                f"shuffle_shards: NULL in key column {key_col!r}; "
                "NULL keys would all collide on one rank/shard"
            )
        ).cast("string"),
    ).otherwise(F.col(key_col).cast("string"))
    rank = F.md5(
        F.encode(F.concat_ws(":", key, F.lit(str(seed))), "UTF-8")
    )
    shard = F.pmod(
        F.conv(F.substring(rank, 1, 8), 16, 10).cast("long"),
        F.lit(n_shards),
    ).cast("int")
    return df.withColumn("_shuffle_rank", rank).withColumn(
        "shard_id", shard
    )


def shuffle_shard_stats(
    sharded: DataFrame, key_col: str, size_col: str
) -> DataFrame:
    """Per-shard manifest for a :func:`shuffle_shards` frame: row count,
    total payload size, and the first/last key in shuffle order (what a
    shard reader would see) — the audit view that makes the shuffle's
    balance and determinism checkable without materializing shards."""
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col(size_col)).cast("long").alias("sum_size"),
        F.min_by(F.col(key_col), F.col("_shuffle_rank")).alias("first_key"),
        F.max_by(F.col(key_col), F.col("_shuffle_rank")).alias("last_key"),
    )


def group_leakage_split(
    df: DataFrame,
    group_col: str,
    weights: Sequence[float],
    split_col: str = "split",
) -> DataFrame:
    """Train/val/test split by GROUP, not by row: the split is a pure
    function of ``group_col``, so every member of a group lands in the
    same split BY CONSTRUCTION — the guard that keeps duplicate /
    near-duplicate families from straddling train and eval.  Row-keyed
    splitting leaks through duplicates silently: the eval twin of a
    training document IS test-set contamination, and no per-row audit
    sees it.  Feed ``group_col`` with the dedup family identity (exact
    fingerprint, MinHash cluster id, …) produced upstream.

    Thin by design over :func:`hash_split` — the contract is where the
    key COMES FROM; the split device (md5, disjoint covering
    ranges, NULL rejection) is shared so the same auditability
    properties hold.
    """
    return hash_split(df, group_col, weights, split_col=split_col)


def split_leakage_audit(
    df: DataFrame,
    group_col: str,
    split_col: str = "split",
    sum_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-split sizes plus the global leakage verdict: how many
    groups appear in MORE than one split (``straddling_groups`` — 0
    certifies a group-keyed split; > 0 is the contamination count a
    row-keyed split hides).  One aggregation per grain; the verdict is
    a one-row frame broadcast onto the split summary, so the audit
    costs two group-bys over the tagged corpus and nothing joins at
    row grain."""
    sizes = df.groupBy(split_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct(F.col(group_col)).cast("long").alias("n_groups"),
        *[
            F.sum(F.col(c)).cast("long").alias(f"sum_{c}")
            for c in sum_cols
        ],
    )
    straddle = (
        df.groupBy(group_col)
        .agg(F.count_distinct(F.col(split_col)).alias("_ns"))
        .agg(
            F.sum((F.col("_ns") > 1).cast("long"))
            .cast("long")
            .alias("straddling_groups")
        )
    )
    return sizes.crossJoin(F.broadcast(straddle))
