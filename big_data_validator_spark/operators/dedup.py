"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the whole point — SURVEY.md §2g / north star):

- **exact**: hash-groupBy on a fingerprint — one shuffle of (hash, id),
  never of document bodies.
- **minhash_lsh / simhash**: shingle/token hashing stays JVM-side
  (``F.xxhash64`` inside codegen); the dense per-document signature math
  (64 universal-hash mins / 64 bit votes) runs in an Arrow-batched numpy
  kernel — Spark's higher-order array functions are *interpreted* per
  element, and profiling showed a 64-lambda-pass formulation costing ~20 s
  at sf0.1 vs ~3 s for the vectorized kernel with identical output bits.
  Candidate generation explodes *bands* (tiny constant factor) and
  self-joins on the band key, so comparisons are limited to hash-bucket
  collisions — O(n·bands) shuffle rows instead of the O(n²) cross join a
  naive Jaccard would need.
- **ngram_jaccard**: the exact (quadratic-within-bucket) verifier used on
  LSH candidates, also exposed standalone for small data / oracles via an
  inverted shingle index (explode + join on shingle) rather than a cross
  join.
- **embedding near-dup**: delegates to
  :mod:`big_data_validator_spark.operators.similarity` buckets.
"""

from __future__ import annotations

import logging
from typing import Optional, Sequence

import pyarrow as pa
from pyspark.errors import PySparkException
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_validator_spark.operators import adaptive_partitions
from big_data_validator_spark.operators.text import char_ngrams, fingerprint

_log = logging.getLogger(__name__)
_row_fallback_logged = False


# ------------------------------------------------------------ cache hygiene

def pinned_caches(df: DataFrame) -> list:
    """Caches a plan pinned for its own lifetime, attached by the
    operators below as ``df._bdv_pinned`` (a list; a bare frame is
    accepted for back-compat)."""
    p = getattr(df, "_bdv_pinned", None)
    if p is None:
        return []
    return list(p) if isinstance(p, (list, tuple)) else [p]


def release_pinned(*dfs: DataFrame) -> None:
    """Unpersist every cache pinned by the given frames' plans."""
    for df in dfs:
        for c in pinned_caches(df):
            c.unpersist()


def materialize_release(df: DataFrame, *sources: DataFrame) -> DataFrame:
    """Eagerly materialize a SMALL result (pair lists, cluster
    summaries — outputs already reduced to O(duplicates) rows), then
    unpersist every cache its plan — and any extra ``sources`` feeding
    it — pinned.

    Long-lived driver sessions (the 50-query correctness driver, a
    notebook) would otherwise accumulate one pinned cache per dedup
    call (ADVICE r4); the oracle-checked registry entry points route
    their returns through this so the caches live exactly as long as
    the computation that needs them.  Collect-and-recreate rather than
    ``localCheckpoint``: a checkpoint is itself a persistent RDD that
    lives until GC, i.e. exactly the lingering state this helper
    removes.  Only for results that fit the driver comfortably — the
    full-corpus serving path manages cache lifetime itself.
    """
    global _row_fallback_logged
    try:
        # Arrow round-trip (r14, guide §6 — Arrow for driver
        # transfers): exact for every engine type incl. NULLs,
        # decimals and arrays (Spark 4's toArrow / fromArrow pair),
        # measured 5x faster than pickled Rows on a 100k-row result —
        # entries with pair-list-sized outputs paid ~1.5s per pass in
        # driver (de)serialization on the row path.
        tbl = df.toArrow()
        release_pinned(df, *sources)
        return df.sparkSession.createDataFrame(tbl, schema=df.schema)
    except (pa.ArrowException, PySparkException) as exc:
        # A failure of the query itself (a CapturedException from the
        # JVM) must raise once, not re-run on the Row path; only a
        # driver-side Arrow conversion failure falls back.
        if isinstance(exc, CapturedException):
            raise
        if not _row_fallback_logged:
            _row_fallback_logged = True
            _log.warning(
                "materialize_release: Arrow conversion failed (%s); "
                "collecting Rows instead",
                exc,
            )
        rows = df.collect()
        release_pinned(df, *sources)
        return df.sparkSession.createDataFrame(rows, df.schema)


# -------------------------------------------------------------- exact dedup

def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical (after normalization) documents:
    ``(fingerprint, dup_count, keep_id)`` for groups with >1 member."""
    return (
        df.select(
            fingerprint(F.col(text_col)).alias("fingerprint"),
            F.col(id_col),
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------- shingle helpers

def _shingle_sets(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, shingles: array<string>) with distinct shingles per doc.

    Lowercasing is a separate projection so the n-gram lambda slides over a
    plain attribute — an expression argument would re-lowercase the whole
    document once per n-gram (see :func:`char_ngrams`)."""
    from big_data_validator_spark.operators import rebalance_for_compute

    df = rebalance_for_compute(df)
    return df.select(
        F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("_lt")
    ).select(
        "id",
        F.array_distinct(char_ngrams(F.col("_lt"), n)).alias(
            "shingles"
        ),
    )


def _shingle_rows(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, _sh) DISTINCT shingle ROWS — the exploded twin of
    :func:`_shingle_sets` for consumers that join/count shingles rather
    than keep per-doc arrays (inverted-index legs).  Building the array
    through the interpreted n-gram HOF and exploding it wastes the
    array: here the positions explode FIRST (a codegen Generate) and
    ``substring`` runs whole-stage-compiled per row — measured ~6×
    faster than the HOF at sf1 on the hybrid-RRF lexical leg — then
    one distinct collapses duplicate shingles per doc.  Identical
    relation to exploding :func:`_shingle_sets` (same distinct
    (id, shingle) pairs), so oracles written over DISTINCT shingle
    rows are unchanged."""
    from big_data_validator_spark.operators import rebalance_for_compute

    df = rebalance_for_compute(df)
    return (
        df.select(
            F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("_lt")
        )
        .filter(F.length("_lt") >= n)
        .select(
            "id",
            "_lt",
            F.explode(
                F.sequence(F.lit(1), F.length("_lt") - F.lit(n - 1))
            ).alias("_i"),
        )
        .select(
            "id", F.expr(f"substring(_lt, _i, {int(n)})").alias("_sh")
        )
        .distinct()
    )


def hashed_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, shingles: array<bigint>) — DISTINCT Karp-Rabin hashes of the
    lowercased text's character n-grams, one Arrow kernel pass per batch.

    The string-shingle path (:func:`_shingle_sets`) materializes every
    n-gram as a string through an interpreted HOF — measured 3.2 s of the
    minhash pipeline's 3.3 s at sf0.1.  Sketch paths (MinHash banding)
    never need the strings, only a deterministic per-shingle hash, so this
    kernel computes the hashes directly: one strided-window matmul per
    document (``sliding_window_view @ base-powers mod 2^31-1``) and one
    ``np.unique``.  Same polynomial family as the winnowing sketch.
    Collisions in the 31-bit space can merge distinct shingles (~|S|²/2³²
    per doc — immaterial for sketching; use the string path when exact
    string-set semantics are the contract, e.g. the Jaccard oracle)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.pandas.functions import pandas_udf

    from big_data_validator_spark.operators import rebalance_for_compute

    weights = np.array(
        [pow(_WINNOW_BASE, n - 1 - j, _WINNOW_MOD) for j in range(n)],
        dtype=np.int64,
    )

    @pandas_udf("array<bigint>")
    def kernel(texts):
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            codes = np.frombuffer(
                t.lower().encode("utf-8"), dtype=np.uint8
            ).astype(np.int64)
            if len(codes) == 0:
                out.append(np.empty(0, dtype=np.int64))
                continue
            if len(codes) < n:
                # mirrors char_ngrams: short text → one whole-text shingle
                out.append(np.array([_np_poly(codes)], dtype=np.int64))
                continue
            # codes<256, weights<2^31, n small → dot fits int64 exactly
            W = np.lib.stride_tricks.sliding_window_view(codes, n)
            out.append(np.unique((W @ weights) % _WINNOW_MOD))
        return pd.Series(out)

    df = rebalance_for_compute(df)
    return df.select(
        F.col(id_col).alias("id"), kernel(F.col(text_col)).alias("shingles")
    )


# ------------------------------------------------------------ ngram jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via an inverted shingle
    index: explode shingles, self-join on the shingle, count common shingles
    per pair, then Jaccard = |∩| / (|A|+|B|-|∩|).

    The shingle join only pairs documents that *share at least one shingle*
    — already far sparser than a cross join — but is still quadratic in
    pathological corpora; at 100 TB use :func:`minhash_lsh_candidates` to
    pre-bucket and feed candidates here for exact verification.
    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.
    """
    sets_df = _shingle_sets(df, text_col, id_col, n).cache()
    sizes = sets_df.select("id", F.size("shingles").alias("set_size"))
    inv = sets_df.select("id", F.explode("shingles").alias("shingle"))
    a = inv.alias("a")
    b = inv.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    out._bdv_pinned = [sets_df]
    return out


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram CONTAINMENT near-duplicate pairs — the asymmetric
    complement of :func:`ngram_jaccard_pairs` for SUBSET duplication:
    ``C(A ⊆ B) = |grams(A) ∩ grams(B)| / |grams(A)|``.  A short document
    quoted verbatim inside a long one scores containment ≈ 1 while its
    Jaccard stays tiny (the union is dominated by B), so a
    Jaccard-thresholded dedup pass ships the quote twice — the failure
    mode containment screening exists for in training-data curation
    (RefinedWeb/CCNet-style partial-overlap removal).

    Same inverted-index plan as Jaccard (explode shingles, equi-join on
    the shingle, count common per pair, join back the two set sizes) —
    candidates come only from shared shingles, never a cross join.  A
    pair is emitted when EITHER direction clears ``threshold``.  At
    100 TB, prefix filtering also transfers: if ``|∩|/|A| ≥ t`` then any
    ``⌊(1−t)·|A|⌋+1`` shingles of A must hit B, so the
    ``dedup_ssjoin_prefix`` device bounds candidates here too.

    Returns ``(id_a, id_b, cont_a_in_b, cont_b_in_a)`` with
    ``id_a < id_b``, containments rounded to 6.
    """
    sets_df = _shingle_sets(df, text_col, id_col, n).cache()
    sizes = sets_df.select("id", F.size("shingles").alias("set_size"))
    inv = sets_df.select("id", F.explode("shingles").alias("shingle"))
    a = inv.alias("a")
    b = inv.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed(
                "set_size", "size_a"
            ),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed(
                "set_size", "size_b"
            ),
            "id_b",
        )
        .withColumn("_cab", F.col("common") / F.col("size_a"))
        .withColumn("_cba", F.col("common") / F.col("size_b"))
        .filter(
            F.greatest(F.col("_cab"), F.col("_cba")) >= F.lit(threshold)
        )
        .select(
            "id_a",
            "id_b",
            F.round("_cab", 6).alias("cont_a_in_b"),
            F.round("_cba", 6).alias("cont_b_in_a"),
        )
    )
    out._bdv_pinned = [sets_df]
    return out


# -------------------------------------------------------------- minhash lsh

_MERSENNE_31 = (1 << 31) - 1


def _minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic multiply-add constants for the MinHash universal hash
    family ``(a*h + b) mod (2^31-1)``.  Constants stay below 2^31 so the
    product fits a long — ANSI mode (Spark 4 default) raises on long
    overflow, ruling out wraparound tricks."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 64,
) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signatures.

    Each shingle is hashed ONCE (``xxhash64`` folded to 31 bits); the
    ``num_hashes`` hash functions are derived arithmetically as
    ``(a_i * h + b_i) mod (2^31 - 1)`` — ~64× cheaper than hashing the
    string per function.  The signature slot is the min over the
    document's shingle hashes, computed in an Arrow numpy kernel.
    ``P(sig_a[i]==sig_b[i]) ≈ Jaccard(a,b)``, the classic MinHash estimator
    (Broder 1997).
    """
    return _minhash_signatures_from_sets(
        _shingle_sets(df, text_col, id_col, n), num_hashes
    )


def _minhash_signatures_from_sets(
    sets_df: DataFrame, num_hashes: int, prehashed: bool = False,
) -> DataFrame:
    params = _minhash_params(num_hashes)
    if prehashed:
        # shingles are already 31-bit hashes (hashed_shingle_sets)
        base = F.col("shingles")
    else:
        # fold the 64-bit shingle hash to 31 bits so every multiply below
        # stays inside a long (ANSI-safe)
        base = F.transform(
            "shingles", lambda s: F.xxhash64(s).bitwiseAND(F.lit(_MERSENNE_31))
        )
    hashed = sets_df.withColumn("_h", base)

    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def sig_kernel(hs):
        import numpy as np
        import pandas as pd

        A = np.array([a for a, _ in params], dtype=np.int64)
        B = np.array([b for _, b in params], dtype=np.int64)
        empty = np.full(num_hashes, _MERSENNE_31, dtype=np.int64)
        out = []
        for h in hs:
            if h is None or len(h) == 0:
                # no shingles → sentinel max signature (deterministic; the
                # verifier's 0/0 Jaccard is NULL so empty docs never pair)
                out.append(empty)
                continue
            hv = np.asarray(h, dtype=np.int64)
            # a,h < 2^31 so the product fits int64 exactly
            out.append(((hv[:, None] * A[None, :] + B[None, :]) % _MERSENNE_31).min(axis=0))
        return pd.Series(out)

    return hashed.select("id", sig_kernel("_h").alias("sig"))


def capped_bucket_pairs(
    bucketed: DataFrame,
    key_cols: Sequence[str],
    max_bucket_size: Optional[int],
    payload_cols: Sequence[str] = (),
) -> DataFrame:
    """Candidate pairs ``(id_a, id_b)`` from rows sharing a bucket key,
    with a per-bucket size cap — the skew guard for every LSH-style
    self-join here.

    The all-pairs self-join is quadratic *within* a bucket: a degenerate
    corpus (thousands of byte-identical documents) collapses into ONE
    bucket and produces O(size²) shuffle rows — the classic LSH skew
    bomb.  Buckets at or under ``max_bucket_size`` keep the exact
    all-pairs behavior.  Oversized buckets fall back to *leader edges*:
    every member pairs with the bucket's minimum id only — O(size) pairs
    that keep the bucket's candidate graph connected (any member still
    reaches any other through the leader after the verifier confirms the
    edges), which is what dedup clustering consumes.  The trade-off is
    deliberate: member↔member edges inside an oversized bucket are
    dropped, so pair *enumeration* (not clustering) of a mostly-identical
    corpus should raise the cap.

    ``payload_cols`` are carried through as ``<col>_a`` / ``<col>_b`` so
    verifiers (true Jaccard, Hamming) run without re-joining the inputs;
    the leader's payload comes from ``min_by`` in the same size
    aggregation — no extra shuffle.

    Cost: one key-only aggregation (bucket sizes + leader) and one
    key-equi-join against it, both co-partitioned with the pair join's own
    shuffle.  Pass ``max_bucket_size=None`` to disable the guard.

    The capped path pins a narrow ``(id, keys, payload)`` cache for the
    lifetime of the returned plan (rationale in the inline comment),
    recorded on the returned frame as ``_bdv_pinned``; callers release it
    once downstream results are materialized via
    :func:`release_pinned` / :func:`materialize_release` — the
    oracle-checked registry entry points all do (ADVICE r3/r4).
    """
    keys = list(key_cols)
    if max_bucket_size is None:
        a, b = bucketed.alias("a"), bucketed.alias("b")
        cond = (F.col("a.id") < F.col("b.id"))
        for k in keys:
            cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
        return a.join(b, cond).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload_cols],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload_cols],
        )
    # The capped plan consumes `bucketed` in three branches (size agg,
    # tagged join, self-join); the size aggregate's partial-agg subplan
    # differs from the join exchanges, so Catalyst cannot reuse one
    # exchange across them and the upstream signature kernel would run
    # per branch.  The projection is narrow — (id, keys, payload) tuples,
    # O(n·bands) longs, a small fraction of corpus bytes — so pinning it
    # is the cheap side of the trade at any scale (MEMORY_AND_DISK spills
    # rather than OOMs).
    bucketed = bucketed.cache()
    sizes = bucketed.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_bsz"),
        F.min("id").alias("_leader"),
        *[F.min_by(c, "id").alias(f"_leader_{c}") for c in payload_cols],
    )
    tagged = bucketed.join(sizes, keys)
    small = tagged.filter(F.col("_bsz") <= max_bucket_size)
    a, b = small.alias("a"), small.alias("b")
    cond = (F.col("a.id") < F.col("b.id"))
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    small_pairs = a.join(b, cond).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload_cols],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload_cols],
    )
    big_pairs = (
        tagged.filter(
            (F.col("_bsz") > max_bucket_size) & (F.col("id") != F.col("_leader"))
        )
        .select(
            F.col("_leader").alias("id_a"),
            F.col("id").alias("id_b"),
            *[F.col(f"_leader_{c}").alias(f"{c}_a") for c in payload_cols],
            *[F.col(c).alias(f"{c}_b") for c in payload_cols],
        )
    )
    out = small_pairs.unionByName(big_pairs)
    out._bdv_pinned = [bucketed]
    return out


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    sigs: Optional[DataFrame] = None,
    max_bucket_size: Optional[int] = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH over MinHash
    signatures.

    The signature is cut into ``bands`` bands of ``num_hashes/bands`` rows;
    two docs are candidates if any band hashes identically.  Shuffle volume
    is O(n·bands) small (band_id, band_hash, id) tuples; the per-bucket
    self-join only compares docs that collided, and oversized buckets
    degrade to leader edges (:func:`capped_bucket_pairs`) so a degenerate
    corpus cannot go quadratic.  With 64 hashes / 8 bands (r=8) the
    S-curve threshold sits near (1/8)^(1/8) ≈ 0.77 Jaccard — tuned for the
    usual 0.8 near-dup cutoff; corpora with high mutual similarity would
    drown r=4 banding in false candidates.
    Returns distinct ``(id_a, id_b)`` with ``id_a < id_b``.
    """
    rows_per_band = num_hashes // bands
    if sigs is None:
        sigs = minhash_signatures(df, text_col, id_col, n, num_hashes)
    banded = sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band).cast("string")
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    pairs = capped_bucket_pairs(banded, ["band", "bucket"], max_bucket_size)
    out = pairs.dropDuplicates()
    out._bdv_pinned = pinned_caches(pairs)
    return out


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket_size: Optional[int] = 1000,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: LSH candidates → exact Jaccard
    verification (join back to shingle sets, intersect/union on arrays).
    Returns ``(id_a, id_b, jaccard)`` pairs above threshold.

    The shingle sets are computed once and cached: candidate generation
    derives signatures from them and verification joins back to them —
    without the cache the corpus would be re-shingled three times.

    Shingles are represented by their 31-bit Karp-Rabin hashes end-to-end
    (:func:`hashed_shingle_sets` — one vectorized rolling-hash pass instead
    of materializing every n-gram string, measured ~3× on the pipeline);
    verification Jaccard is over the hashed sets, identical to string-set
    Jaccard up to 31-bit collisions (~|S|²/2³² per doc)."""
    # The sets cache feeds the SIGNATURE kernel (CPU-bound Arrow UDF)
    # before it feeds the verify join, so its width is floored at the
    # session parallelism: the r13 bytes-sized collapse (1 partition at
    # sf0.1) ran the whole 64-hash kernel as ONE task — fine on a quiet
    # host, but the single task straggles under contention (the r13
    # driver's 32-core run recorded 2.6x adj vs 2.8s at 8 cores —
    # bimodal).  Keyed by id so the verify join still consumes the
    # cached layout; adaptive_partitions keeps the 256 MiB/partition
    # growth past core count at scale.
    sets_parts = max(
        adaptive_partitions(df),
        df.sparkSession.sparkContext.defaultParallelism,
    )
    sets_df = (
        hashed_shingle_sets(df, text_col, id_col, n)
        .repartition(sets_parts, "id")
        .cache()
    )
    sigs = _minhash_signatures_from_sets(sets_df, num_hashes, prehashed=True)
    cands = minhash_lsh_candidates(
        df, text_col, id_col, n, num_hashes, bands, sigs=sigs,
        max_bucket_size=max_bucket_size,
    )
    sa = sets_df.withColumnRenamed("id", "id_a").withColumnRenamed("shingles", "sh_a")
    sb = sets_df.withColumnRenamed("id", "id_b").withColumnRenamed("shingles", "sh_b")
    out = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    out._bdv_pinned = [sets_df] + pinned_caches(cands)
    return out


# --------------------------------------------------------------- winnowing

_WINNOW_BASE = 257
_WINNOW_MOD = (1 << 31) - 1


def winnow_py(text: str, k: int = 10, window: int = 6) -> list[int]:
    """Pure-Python reference winnowing (Schleimer/Wilkerson/Aiken, the MOSS
    fingerprint): Karp-Rabin polynomial hash of every k-gram, then keep the
    rightmost minimum of each sliding window of ``window`` hashes.  Used by
    tests to pin the Arrow kernel, and documents the exact semantics."""
    t = text.lower()
    if len(t) < k:
        hashes = [_poly_hash(t)] if t else []
    else:
        hashes = []
        h = _poly_hash(t[:k])
        hashes.append(h)
        top = pow(_WINNOW_BASE, k - 1, _WINNOW_MOD)
        for i in range(1, len(t) - k + 1):
            # the rolling recurrence: drop char i-1, shift, add char i+k-1
            h = ((h - ord(t[i - 1]) * top) * _WINNOW_BASE + ord(t[i + k - 1])) % _WINNOW_MOD
            hashes.append(h)
    out = []
    prev_pick = -1
    for w in range(max(len(hashes) - window + 1, 1)):
        win = hashes[w : w + window]
        if not win:
            break
        m = min(win)
        pick = w + max(i for i, v in enumerate(win) if v == m)
        if pick != prev_pick:
            out.append(hashes[pick])
            prev_pick = pick
    return sorted(set(out))


def _poly_hash(s: str) -> int:
    h = 0
    for c in s:
        h = (h * _WINNOW_BASE + ord(c)) % _WINNOW_MOD
    return h


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    window: int = 6,
) -> DataFrame:
    """(id, fingerprints: array<bigint>) winnowed rolling-hash document
    sketch.

    The Arrow kernel vectorizes Karp-Rabin over all positions (Horner over
    the k gram chars, each step a whole-array op — identical values to the
    sequential rolling recurrence) and winnows with a sliding-window min
    keeping the rightmost minimum per window, deduped by position.  Sketch
    size is ~2/(window+1) of the k-gram count (the winnowing density
    guarantee), so the shuffle-side footprint is a small fraction of the
    shingle approach while still guaranteeing any match of length
    ``window + k - 1`` shares a fingerprint."""
    from pyspark.sql.pandas.functions import pandas_udf

    from big_data_validator_spark.operators import rebalance_for_compute

    df = rebalance_for_compute(df)

    @pandas_udf("array<bigint>")
    def kernel(texts):
        import numpy as np
        import pandas as pd

        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            t = t.lower()
            n = len(t)
            if n == 0:
                out.append(np.array([], dtype=np.int64))
                continue
            codes = np.frombuffer(
                t.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            if n < k:
                hashes = np.array([_np_poly(codes)], dtype=np.int64)
            else:
                m = n - k + 1
                hashes = np.zeros(m, dtype=np.int64)
                for j in range(k):  # Horner, vectorized over all positions
                    hashes = (hashes * _WINNOW_BASE + codes[j : j + m]) % _WINNOW_MOD
            # rightmost minimum per sliding window, vectorized: one
            # strided argmin over the reversed-column window view
            # replaces the per-window python loop (the r14 hot spot —
            # O(n_windows) numpy calls per doc).  Identical picks: the
            # chosen POSITIONS are the same, and the original's
            # consecutive-position skip + sorted(set(...)) collapse to
            # np.unique over the picked values.
            if len(hashes) >= window:
                wv = np.lib.stride_tricks.sliding_window_view(
                    hashes, window
                )
                rel = (window - 1) - np.argmin(wv[:, ::-1], axis=1)
                picks = np.arange(len(wv), dtype=np.int64) + rel
            else:
                picks = np.array(
                    [len(hashes) - 1 - int(np.argmin(hashes[::-1]))],
                    dtype=np.int64,
                )
            out.append(np.unique(hashes[picks]))
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("id"), kernel(F.col(text_col)).alias("fingerprints")
    )


def _np_poly(codes) -> int:
    h = 0
    for c in codes:
        h = (h * _WINNOW_BASE + int(c)) % _WINNOW_MOD
    return h


def winnowing_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    window: int = 6,
    min_common: int = 5,
    min_overlap: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via shared winnowing fingerprints: inverted index on
    the sketch, pairs kept when they share ≥ ``min_common`` fingerprints
    AND their overlap coefficient |∩| / min(|A|, |B|) ≥ ``min_overlap``.

    A fingerprint shared by f documents contributes O(f²) candidate
    pairs, so ``k`` is the skew control: the default k=10 keeps the
    median posting list short — measured on the testdata corpus: k=5
    posting lists had median df 29/500 docs and the pair join exploded
    10⁷×, k=10 median df 9/5000 with the same true pairs found."""
    # NOT partition-collapsed before caching (r13 audit): the posting
    # self-join downstream explodes to ~100x the cached bytes, and an
    # input-bytes-sized cache (1 partition at sf0.1) serializes that
    # join — measured 3.1s -> 17s.  The rebalanced width is the right
    # width for this cache's consumers.
    fps = winnowing_fingerprints(df, text_col, id_col, k, window).cache()
    sizes = fps.select("id", F.size("fingerprints").alias("sz"))
    inv = fps.select("id", F.explode("fingerprints").alias("fp"))
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    out = (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "overlap",
            F.round(F.col("common") / F.least("sz_a", "sz_b"), 6),
        )
        .filter(F.col("overlap") >= min_overlap)
        .select("id_a", "id_b", "common", "overlap")
    )
    out._bdv_pinned = [fps]
    return out


# ----------------------------------------------------------- dedup clusters

def _driver_union_find(spark, e: DataFrame, edges: DataFrame) -> DataFrame:
    """Union-find (path compression + union-by-min-root) over a BOUNDED
    collected edge list; the caller enforces the bound.  Roots are always
    the minimum id, so labels match the distributed propagation exactly."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    # the symmetric frame is cached (and being materialized by the probe
    # count); collecting it instead of `e` avoids recomputing candidate
    # generation at the cost of 2x tiny rows
    vertices = set()
    for r in edges.collect():
        a, b = r[0], r[1]
        vertices.add(a)
        vertices.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    id_type = edges.schema["src"].dataType
    return spark.createDataFrame(
        [(v, find(v)) for v in vertices],
        StructType(
            [StructField("id", id_type), StructField("cluster_id", id_type)]
        ),
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_edge_limit: Optional[int] = 1_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: the endpoint
    of every dedup pipeline (pairs only say "these two match"; keeping one
    representative per GROUP needs the transitive closure).

    Two regimes, picked by measured edge count:

    1. **Bounded driver union-find** when the (deduplicated) pair list has
       at most ``driver_edge_limit`` edges.  A near-dup pair list is a
       tiny fraction of the corpus (it holds only matched documents — at
       1M edges ≈ 16 MB of longs), and the iterative path below costs one
       whole Spark job PER ROUND just in scheduling; union-find on the
       driver answers in two jobs total (count + collect).  This is the
       same bounded-driver-work pattern as the IVF training sample — the
       limit, not optimism, is what makes it scale-safe.
    2. **Two-phase large-star/small-star** (Kiveris et al., "Connected
       Components in MapReduce and Beyond", 2014 — all DataFrame ops)
       above the limit: alternate LARGE-STAR (every node hooks its
       strictly-larger neighbors onto its neighborhood minimum) and
       SMALL-STAR (every node re-points its smaller-or-equal neighbors,
       and itself, at that side's minimum) until the edge multiset is a
       fixpoint — at which point the graph is a disjoint union of stars
       rooted at each component's minimum id.  Converges in O(log² n)
       rounds INDEPENDENT OF DIAMETER — the property plain min-label
       propagation (O(diameter) rounds, VERDICT r6 item 4) lacks: a
       pathological 10k-node chain finishes in ~15 rounds instead of
       10k.  Per round the work is two (groupBy + equi-join) passes
       shuffling (src, dst) id pairs only; edges never grow beyond the
       input edge count (each phase re-points edges, never multiplies
       them).  Convergence is detected by an order-insensitive edge
       fingerprint (count + sum of per-edge xxhash64) — two scalar
       aggregations, no set-difference join.

    Both regimes return identical labels: ``(id, cluster_id)`` for every
    id appearing in ``pairs``, where ``cluster_id`` is the minimum member
    id of the component (pinned equal by ``tests/test_text_dedup.py``).
    Singleton documents never enter the pair list, so they are implicitly
    their own cluster.  Pass ``driver_edge_limit=None`` to force the
    distributed path.
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).repartition(adaptive_partitions(pairs), "src").cache()
    if driver_edge_limit is not None:
        # edges.count() also materializes the cache the iterative path
        # would fill anyway, so the probe is not wasted work either way
        if edges.count() <= 2 * driver_edge_limit:
            try:
                return _driver_union_find(pairs.sparkSession, e, edges)
            finally:
                edges.unpersist()
    # eager checkpoint, not cache: the labels frame returned below joins
    # against vertices lazily, after this function already unpersisted
    # `edges` — a cached-but-unmaterialized frame would silently recompute
    # from the pairs lineage, a checkpointed one cannot
    vertices = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = _two_phase_cc(edges, vertices, max_iter)
    edges.unpersist()
    return labels


def _edge_fingerprint(E: DataFrame) -> tuple:
    """Order-insensitive multiset fingerprint of an edge frame: (count,
    sum of per-edge xxhash64).  Equal fingerprints across consecutive
    rounds are the fixpoint signal — two scalar aggregations instead of
    a set-difference join.  (A crafted hash collision could in theory
    mask a change; dedup ids are not adversarial inputs.)"""
    row = E.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal accumulator: a long sum of 64-bit hashes overflows
        # (and ANSI mode correctly refuses to wrap)
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row["n"], row["h"])


def _two_phase_cc(
    edges: DataFrame, vertices: DataFrame, max_iter: int
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) over a
    SYMMETRIC edge frame — the distributed regime of
    :func:`duplicate_clusters`.

    Invariant: ``E`` holds directed edges larger→smaller (``src >
    dst``), one per undirected edge.  Each round:

    - **large-star** (on the symmetrized view): node u with
      neighborhood N(u) and m = min(N(u) ∪ {u}) emits (v, m) for every
      neighbor v > u.  Output keeps the src > dst invariant (v > u ≥
      m).
    - **small-star** (on the directed frame, so every neighbor v ≤ u):
      with m = min(N(u)) emits (v, m) for v ∈ N(u) \\ {m} plus (u, m).

    Both phases only RE-POINT edges (never multiply them), so |E| is
    non-increasing; the fixpoint is a disjoint union of stars rooted at
    each component's minimum id, reached in O(log² n) rounds regardless
    of graph diameter — the win over plain min-label propagation on
    chain-shaped graphs (VERDICT r6 item 4; pinned by the 10k-chain
    test).  Every round localCheckpoints eagerly (GraphX-style
    iterative hygiene): the lineage would otherwise chain two joins per
    round and analysis time would creep.
    """
    E = (
        edges.filter(F.col("src") > F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = _edge_fingerprint(E)
    for _ in range(max_iter):
        # ---- large-star
        sym = E.unionByName(
            E.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        lmin = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("nbr_min"))
            .select(
                "src", F.least("nbr_min", F.col("src")).alias("m")
            )
        )
        ls = (
            sym.join(lmin, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # ---- small-star (ls already satisfies src > dst)
        smin = ls.groupBy("src").agg(F.min("dst").alias("m"))
        repointed = (
            ls.join(smin, "src")
            .filter(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        hooks = smin.select("src", F.col("m").alias("dst"))
        E_next = (
            repointed.unionByName(hooks).distinct().localCheckpoint(eager=True)
        )
        cur = _edge_fingerprint(E_next)
        # dropping the prior checkpointed frame's reference is the
        # cleanup — checkpoint blocks are freed by the ContextCleaner
        # when the driver GCs the RDD (they are not in the cache
        # manager, so unpersist() would be a silent no-op; ADVICE r3)
        E = E_next
        if cur == prev:
            break
        prev = cur
    # Fixpoint E is a star forest: every non-root appears as src exactly
    # once pointing at its component minimum; roots never appear as src.
    # (groupBy-min instead of a bare rename keeps the output well-formed
    # even if max_iter exhausted before convergence.)
    parents = (
        E.groupBy("src")
        .agg(F.min("dst").alias("cluster_id"))
        .select(F.col("src").alias("id"), "cluster_id")
    )
    return vertices.join(parents, "id", "left").select(
        "id",
        F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
    )


# ------------------------------------------------------------------ simhash

def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """(id, simhash: bigint) 64-bit SimHash over word tokens.

    Classic Charikar scheme: each token hashes to 64 bits (``xxhash64``,
    JVM-side); each bit position accumulates +1/-1 across tokens; the
    signature takes the sign.  The 64-way bit-vote runs in an Arrow numpy
    kernel.
    """
    from big_data_validator_spark.operators import rebalance_for_compute
    from big_data_validator_spark.operators.text import word_tokens

    df = rebalance_for_compute(df)
    toks = F.array_distinct(word_tokens(F.col(text_col)))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("bigint")
    def simhash_kernel(hs):
        import numpy as np
        import pandas as pd

        bitpos = np.arange(bits, dtype=np.uint64)
        out = np.zeros(len(hs), dtype=np.int64)
        for i, h in enumerate(hs):
            if h is None or len(h) == 0:
                continue  # zero votes → all bits 0
            hv = np.asarray(h, dtype=np.int64).view(np.uint64)
            onebits = ((hv[:, None] >> bitpos[None, :]) & 1).sum(axis=0)
            votes = 2 * onebits.astype(np.int64) - len(hv)
            sig = ((votes > 0).astype(np.uint64) << bitpos).sum(dtype=np.uint64)
            out[i] = sig.astype(np.int64)  # wrap like Java long, bit-identical
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("id"),
        simhash_kernel(hashes).alias("simhash"),
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: Optional[int] = 1000,
) -> DataFrame:
    """Near-dup pairs with Hamming distance ≤ ``max_hamming`` between
    64-bit SimHashes.

    Pigeonhole blocking: split the signature into ``max_hamming+1`` chunks;
    any pair within distance ``max_hamming`` must agree exactly on ≥1 chunk
    → self-join per chunk bucket (shuffle O(n·chunks)) with oversized
    buckets degraded to leader edges (:func:`capped_bucket_pairs` — a
    corpus of near-identical documents shares every chunk key and would
    otherwise go quadratic), then verify the true Hamming distance with
    ``bit_count(xor)``.
    """
    chunks = max_hamming + 1
    chunk_bits = 64 // chunks
    sigs = simhash_signatures(df, text_col, id_col)
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftright(F.col("simhash"), c * chunk_bits)
            .bitwiseAND(F.lit((1 << chunk_bits) - 1))
            .alias("key"),
        )
        for c in range(chunks)
    ]
    blocked = sigs.select(
        "id",
        "simhash",
        F.explode(F.array(*chunk_structs)).alias("cb"),
    ).select("id", "simhash", F.col("cb.chunk").alias("chunk"), F.col("cb.key").alias("key"))
    pairs = capped_bucket_pairs(
        blocked, ["chunk", "key"], max_bucket_size, payload_cols=["simhash"]
    )
    out = (
        pairs.select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
            ).alias("hamming"),
        )
        # filter BEFORE the dedup shuffle: hamming is deterministic per
        # pair, so dropping non-matches first shrinks the exchange (Catalyst
        # can't push a non-key predicate through the aggregate itself)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
    out._bdv_pinned = pinned_caches(pairs)
    return out


def levenshtein_pairs_banded(
    df: DataFrame,
    text_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """All DISTINCT value pairs of ``text_col`` within edit distance
    ``max_dist`` — fuzzy catalog dedup (near-identical product names,
    entity labels, header variants), the string-metric sibling of the
    shingle/MinHash document pipeline.

    LOSSLESS length blocking instead of an all-pairs cross join: an edit
    distance ≤ k forces ``|len(a) − len(b)| ≤ k``, so the left side keys
    each value by its exact length while the right side explodes each
    value to the ``2k+1`` length-band keys it could pair with; a plain
    hash equi-join on the band key then yields every candidate pair
    EXACTLY ONCE (the key must equal ``length(a)``, and the ``a < b``
    ordering dedups the direction).  ``levenshtein`` — JVM built-in,
    identical unit-cost semantics in DuckDB — verifies candidates.

    Scale: values are ``distinct()``-ed first (catalog vocabulary ≪
    corpus rows), the join is a standard shuffled equi-join on the band
    key — AQE-splittable, no broadcast assumption.  For vocabularies
    where single length bands are still huge, compose the band key with
    a positional q-gram (PassJoin segment filtering) — same join shape,
    finer keys; the band-only key is exact at any size, just coarser.

    Returns ``(name_a, name_b, dist)``.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    vals = df.select(F.col(text_col).alias("_v")).filter(
        F.col("_v").isNotNull()
    ).distinct()
    left = vals.select(
        F.col("_v").alias("name_a"), F.length("_v").alias("_band")
    )
    right = vals.select(
        F.col("_v").alias("name_b"),
        F.explode(
            F.sequence(
                F.length("_v") - max_dist, F.length("_v") + max_dist
            )
        ).alias("_band"),
    )
    return (
        left.join(right, "_band")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("int")
        )
        .filter(F.col("dist") <= max_dist)
        .drop("_band")
    )


# ------------------------------------------- exact set-similarity join

def word_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, shingles: array<string>) — DISTINCT word n-gram shingles of
    the lowercased, single-space-tokenized text; documents shorter than
    ``n`` words produce an EMPTY set (they cannot meet any positive
    Jaccard threshold against a non-identical document, and an empty
    set keeps the size arithmetic total).

    Word shingles (vs :func:`_shingle_sets`'s character n-grams) are
    the unit of the exact set-similarity JOIN below: sets are ~20×
    smaller (one element per word position, not per byte), which is
    what makes the exact verification join affordable, and the
    construction is portable SQL on any engine (split → slide →
    distinct), so the operator can be oracle-checked exactly.
    """
    words = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda w: w != ""
    )
    # F.sequence(1, stop) DESCENDS when stop < 1 (it never yields an
    # empty list), so the short-document case needs an explicit guard
    # or element_at walks past the array.
    slid = F.transform(
        F.sequence(F.lit(1), F.size("_w") - (n - 1)),
        lambda i: F.concat_ws(
            "_", *[F.element_at("_w", i + j) for j in range(n)]
        ),
    )
    shingles = F.when(
        F.size("_w") < n, F.array().cast("array<string>")
    ).otherwise(F.array_distinct(slid))
    return df.select(
        F.col(id_col).alias("id"), words.alias("_w")
    ).select("id", shingles.alias("shingles"))


def set_similarity_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_words: int = 3,
    threshold_e6: int = 500_000,
) -> DataFrame:
    """EXACT Jaccard threshold self-join with PPJoin-style prefix +
    length + positional filtering (Xiao et al., WWW'08) — the scale
    path for the semantics :func:`ngram_jaccard_pairs` demonstrates:
    returns exactly the pairs whose word-shingle Jaccard ≥ t, but the
    candidate self-join runs only over each document's PREFIX tokens
    instead of its whole inverted index.

    Why this is never all-pairs at 100 TB:

    - tokens are globally ordered by ascending document frequency
      (ties by token text), so each document's prefix — its first
      ``m - ⌈t·m⌉ + 1`` tokens in that order — consists of its RAREST
      tokens.  Two documents can only reach Jaccard ≥ t if their
      prefixes share a token (pigeonhole: disjoint prefixes leave
      fewer than ⌈t·m⌉ common tokens possible), so the inverted-index
      self-join touches only rare-token buckets; the frequent tokens
      that create quadratic buckets in a naive shingle join never
      enter the join at all.
    - the LENGTH filter (t·max(m_a,m_b) ≤ min(m_a,m_b)) and the
      POSITIONAL filter (remaining-suffix overlap bound ≥ the minimum
      required intersection ⌈t/(1+t)·(m_a+m_b)⌉) run inside the join
      condition, before any shuffle of candidate pairs.
    - verification is exact and integer-only: candidates re-join the
      token relation on (id, token) to count the true intersection,
      and the final predicate ``1e6·∩ ≥ t_e6·(m_a+m_b−∩)`` plus the
      shipped ``jacc_e6 = (1e6·∩) div ∪`` are pure BIGINT arithmetic —
      bit-identical on any engine, hence oracle-checkable.

    Threshold is a ppm integer (500_000 = 0.5) so every comparison
    stays integral.  Cost: one token-frequency aggregation, one window
    rank per document, one rare-token self-join, and one
    candidate-bounded verification join — all key-partitioned; nothing
    is quadratic in the corpus.

    Returns ``(id_a, id_b, inter, size_a, size_b, jacc_e6)`` with
    ``id_a < id_b``, all BIGINT.
    """
    if not 0 < threshold_e6 <= 1_000_000:
        raise ValueError(f"threshold_e6 out of (0, 1e6]: {threshold_e6}")
    t = F.lit(int(threshold_e6))
    e6 = F.lit(1_000_000)
    # The shingle-set relation feeds four branches (token frequencies,
    # the ranked prefix, and both verification legs); caching the
    # PRE-explosion sets keeps the corpus scan + shingling single —
    # each branch re-explodes from the cached arrays, which is pure
    # CPU.  Pinned on the result as _bdv_pinned; the registry entry
    # releases it after materialization (the repo's cache-hygiene
    # device).
    # r14 A/B (kept as measured): the plan consumes this cache from six
    # broadcast subqueries Spark launches concurrently, which at sf0.1
    # RACE the unfilled single-partition cache (six duplicate 1-task
    # shingling jobs, overlapping).  Both candidate fixes measured
    # WORSE within one session: an eager count() prime 3.8->4.7s (one
    # extra full pass), rebalance_for_compute on the input 3.8->4.0s
    # (extra exchange).  The racing jobs overlap so their wall cost is
    # one shingling, and at scale the many-partition block manager
    # dedups racers per partition — leave the lazy single cache.
    sets_df = word_shingle_sets(df, text_col, id_col, n_words).cache()
    tok = sets_df.select(
        "id",
        F.size("shingles").alias("m"),
        F.explode("shingles").alias("token"),
    )
    # Global rarity order: document frequency per token, ties by token.
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("_df"))
    ranked = tok.join(dfreq, "token").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("id").orderBy("_df", "token")
        ),
    )
    # prefix length = m - ceil(t*m) + 1, with ceil(t*m) in integers
    # (operands <= 1e6 * |set| << 2^53, so floor-of-double is exact).
    ceil_tm = F.floor((t * F.col("m") + (e6 - 1)) / e6)
    prefix = ranked.filter(
        F.col("pos") <= F.col("m") - ceil_tm + 1
    ).select("id", "m", "token", "pos")
    a, b = prefix.alias("a"), prefix.alias("b")
    ma, mb = F.col("a.m"), F.col("b.m")
    pa, pb = F.col("a.pos"), F.col("b.pos")
    # minimum required intersection for Jaccard >= t at sizes (ma, mb):
    # ceil(t/(1+t) * (ma+mb)), kept integral via the e6 scaling.
    min_inter = F.floor((t * (ma + mb) + (e6 + t - 1)) / (e6 + t))
    cand = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: t*max <= 1e6*min
            & (t * F.greatest(ma, mb) <= e6 * F.least(ma, mb))
            # positional filter: tokens at/after this match can
            # contribute at most min(ma-pa, mb-pb)+1 common tokens
            & (F.least(ma - pa, mb - pb) + 1 >= min_inter),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ma.alias("size_a"),
            mb.alias("size_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verification: the true intersection is computed ROW-LOCALLY as
    # size(array_intersect) over the cached shingle arrays — the
    # shingle sets are distinct by construction, so this equals the
    # old exploded-token join-count exactly, while dropping two
    # exploded joins and a grouped count from the plan (r13: the
    # before-plan verified through a token×token join + aggregation;
    # the after-plan is two id-keyed joins of the SMALL candidate set
    # against the pinned sets relation — guide §2.3/§3: shuffle the
    # candidate ids, not an exploded token relation).
    sets_slim = sets_df.select("id", "shingles")
    inter = (
        cand.join(sets_slim.alias("sa"), F.col("id_a") == F.col("sa.id"))
        .join(sets_slim.alias("sb"), F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            "size_a",
            "size_b",
            # cast to long BEFORE the ppm arithmetic: size() is INT and
            # 1e6·inter must not overflow int32 under ANSI for big sets
            F.size(
                F.array_intersect(
                    F.col("sa.shingles"), F.col("sb.shingles")
                )
            ).cast("long").alias("inter"),
        )
    )
    out = (
        inter.filter(
            e6 * F.col("inter")
            >= t * (F.col("size_a") + F.col("size_b") - F.col("inter"))
        )
        .select(
            F.col("id_a").cast("long"),
            F.col("id_b").cast("long"),
            F.col("inter").cast("long"),
            F.col("size_a").cast("long"),
            F.col("size_b").cast("long"),
            F.expr(
                "(1000000 * inter) div (size_a + size_b - inter)"
            ).alias("jacc_e6"),
        )
    )
    out._bdv_pinned = [sets_df]
    return out


# ------------------------------------------- exact shared-substring dedup

def shared_substring_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_len: int = 40,
    max_gram_docs: int = 50,
) -> DataFrame:
    """EXACT shared-substring detection — the dedup tier between
    exact-document fingerprints and probabilistic near-dup (MinHash/
    SimHash/winnowing): find document pairs sharing any VERBATIM
    ``gram_len``-character span, the "deduplicate training data by
    exact substring" operation LLM corpus curation runs to kill quoted
    boilerplate and copy-pasta that sentence-level near-dup misses.

    Every document explodes into its stride-1 ``gram_len``-grams (the
    suffix-array formulation's relational equivalent: two docs share a
    ≥L substring iff they share an L-gram), grams reduce to per-doc
    counts (the shuffle carries DISTINCT (doc, gram) rows, not
    positions), and pairs aggregate ``Σ cnt_a·cnt_b`` — exactly the
    number of position pairs with equal spans, so the output is an
    integer contract any engine reproduces from the same text.

    ``max_gram_docs`` drops grams present in more than that many
    documents BEFORE pair generation — the stop-fingerprint discipline
    of inverted-index dedup: a boilerplate header in 10⁵
    docs would otherwise create 10¹⁰ pairs.  Dropped grams are
    boilerplate by definition; pairs that share ONLY boilerplate
    disappear, which is the curation-intended reading.  Pair
    generation is per-gram bounded by ``max_gram_docs``² — never
    corpus².

    Plan shape (VERDICT r9 item 5 — the former formulation window-ed
    and self-JOINED a cached (doc, gram) relation: 5 shuffles + a
    pinned cache): ONE explicit repartition on the gram key, after
    which every per-gram step reuses that partitioning exchange-free —
    Catalyst recognizes HashPartitioning(key) satisfies the
    (key, doc) aggregation, the document-frequency window, AND the
    per-gram collect — pairs expand from each gram's id-sorted
    (doc, count) list with higher-order array functions map-side, and
    a final exchange aggregates pairs on 16-byte keys.  TWO shuffles
    inside this operator (gram repartition + pair aggregation) — a
    consumer's orderBy adds its own range exchange on top, which is
    the three-exchange shape the registry entry audits — no cache, no
    self-join.

    Gram text never crosses the wire (VERDICT r10 item 6 — the
    shuffle-VOLUME cut): each gram maps to a 128-bit key (two
    independent-seed ``xxhash64`` BIGINTs) in the same map-side stage
    that explodes it, so the gram exchange carries 16 fixed-width bytes
    per position instead of ``gram_len`` string chars (2.5× less wire
    at the default 40, and integer instead of string comparisons in
    every downstream sort/agg).  Two distinct grams collide only if
    BOTH 64-bit hashes collide: < 2⁻¹²⁸ per pair, ~3·10⁻¹¹ summed over
    a 100 TB corpus's ~10¹⁴ distinct grams — not information-theoretic
    exactness, but far below any operational noise floor.  (The
    suffix-distinct alternative was measured first: the corpus has
    ZERO within-doc gram repetition and ~5% cross-doc, so deduping
    grams before the shuffle saves nothing — the per-position volume
    is the lever, not the multiplicity.)

    Returns ``(doc_a, doc_b, n_shared_positions, n_shared_grams)``
    with ``doc_a < doc_b``.
    """
    if gram_len < 1:
        raise ValueError(f"gram_len must be >= 1, got {gram_len}")
    if max_gram_docs < 2:
        # The per-gram collect below is bounded ONLY by this df cap, and
        # a gram must sit in at least 2 documents to form a pair: a cap
        # under 2 keeps no gram at all.
        raise ValueError(f"max_gram_docs must be >= 2, got {max_gram_docs}")
    from big_data_validator_spark.operators import rebalance_for_compute

    t = F.col(text_col)
    gram = F.explode(
        F.expr(
            f"transform(sequence(1, length({text_col}) - "
            f"{gram_len - 1}), i -> substring({text_col}, i, "
            f"{gram_len}))"
        )
    ).alias("_gram")
    # the stride-1 explode multiplies each doc into ~len(text) gram
    # rows and hashes every one — compute that must not inherit a
    # small scan's single partition (no-op at scale, guide §2)
    base = rebalance_for_compute(df.filter(F.length(t) >= gram_len))
    # map to the 128-bit key in the SAME stage that explodes the gram —
    # the string never reaches the exchange
    grams = base.select(F.col(id_col).alias("_id"), gram).select(
        "_id",
        F.xxhash64("_gram").alias("_g1"),
        F.xxhash64("_gram", F.lit(982_451_653)).alias("_g2"),
    )
    keys = ["_g1", "_g2"]
    from pyspark.sql import Window

    # the ONLY gram-keyed exchange: everything downstream — the
    # (gram, doc) count aggregation, the document-frequency window,
    # and the per-gram collect — is satisfied by this partitioning and
    # runs exchange-free (a plain groupBy(doc, gram) would partition
    # on BOTH keys and force the window to re-shuffle the whole
    # position-sized relation a second time, which was the old plan)
    counts = (
        grams.repartition(*[F.col(k) for k in keys])
        .groupBy(*keys, "_id")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    eligible = counts.withColumn(
        "_keep", (nd >= 2) & (nd <= max_gram_docs)
    ).filter("_keep")
    # one row per eligible gram carrying its (doc, count) list — ids
    # are distinct within a gram, so sort_array orders by id and the
    # i<j expansion below yields doc_a < doc_b for free; the collect
    # only ever sees df-capped grams (≤ max_gram_docs entries)
    per_gram = eligible.groupBy(*keys).agg(
        F.sort_array(F.collect_list(F.struct("_id", "_c"))).alias("_ds")
    )
    pairs = per_gram.select(
        F.explode(
            F.expr(
                "flatten(transform(_ds, (x, i) -> "
                "transform(slice(_ds, i + 2, size(_ds)), y -> "
                "named_struct('doc_a', x._id, 'doc_b', y._id, "
                "'prod', x._c * y._c))))"
            )
        ).alias("_p")
    )
    return (
        pairs.select("_p.doc_a", "_p.doc_b", "_p.prod")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum("prod").cast("long").alias("n_shared_positions"),
            F.count(F.lit(1)).cast("long").alias("n_shared_grams"),
        )
    )


# -------------------------------------------- duplicate-span EXCISION

def excise_duplicate_spans(
    df: DataFrame,
    n_words: int = 13,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-level exact-substring REMOVAL (the RefinedWeb /
    Lee et al. 2022 "exact substring dedup" TRANSFORM): where the
    screens above only FLAG documents or pairs, this rewrites the
    corpus — every word-token covered by any ``n_words``-gram that
    appears in ≥ ``min_docs`` DISTINCT documents is excised from
    EVERY occurrence (Lee et al. remove all copies of a duplicated
    span, not all-but-one), and the cleaned text is re-emitted.

    Semantics are defined on the :func:`word_tokens` normalization
    (lowercase alnum runs) so the rule is engine-exact: spans are
    positioned word n-grams, coverage is the union of [p, p+n−1] over
    duplicated-gram occurrences, and ``clean_text`` is the surviving
    tokens joined by single spaces — an oracle recomputes the excision
    from the same deterministic gram relation.

    Scale shape: one explode builds the positioned gram rows (codegen
    Generate + ``slice``/``concat_ws``, the `_word_ngram_rows` device
    with positions kept); duplicated grams come from one gram-keyed
    partial-agg (``COUNT(DISTINCT doc)`` ≥ min_docs); coverage joins
    grams to that reduced set and re-explodes to (doc, token-index)
    rows; survivors are a left-anti join; reassembly is one per-doc
    aggregation over ``array_sort(collect_list(struct(idx, token)))``
    — every shuffle is bounded by corpus token count, nothing is
    pairwise.  (At 100 TB, key the dup-join on a 128-bit gram hash —
    the :func:`shared_substring_pairs` fingerprint discipline — if
    gram strings dominate the exchange; string keys keep this exact.)

    Returns ``(id, n_tokens, n_removed, clean_text)`` for every doc
    with ≥1 token; fully-excised docs ship ``clean_text = ''``.
    Pins the tokenized base frame on the result as ``_bdv_pinned``;
    registry entries release it via :func:`materialize_release`.
    """
    from big_data_validator_spark.operators import rebalance_for_compute
    from big_data_validator_spark.operators.text import word_tokens

    if n_words < 1:
        raise ValueError(f"n_words must be >= 1, got {n_words}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    base = (
        rebalance_for_compute(df)
        .select(
            F.col(id_col).alias("id"),
            word_tokens(F.col(text_col)).alias("_t"),
        )
        .filter(F.size("_t") > 0)
    )
    # floored at session parallelism (r14, the minhash sets-cache fix):
    # every consumer re-explodes per-doc arrays from this cache — CPU
    # work that a bytes-sized width (1 partition at sf0.1) serializes
    base = base.repartition(
        max(
            adaptive_partitions(df),
            df.sparkSession.sparkContext.defaultParallelism,
        ),
        "id",
    )
    base.persist()
    grams = (
        base.filter(F.size("_t") >= n_words)
        .select(
            "id",
            "_t",
            F.explode(
                F.sequence(
                    F.lit(1), F.size("_t") - F.lit(n_words - 1)
                )
            ).alias("_p"),
        )
        .select(
            "id",
            "_p",
            F.expr(
                f"concat_ws(' ', slice(_t, _p, {int(n_words)}))"
            ).alias("_g"),
        )
    )
    dup = (
        grams.groupBy("_g")
        .agg(F.countDistinct("id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_g")
    )
    covered = (
        grams.join(dup, "_g")
        .select(
            "id",
            F.explode(
                F.sequence(
                    F.col("_p"), F.col("_p") + F.lit(n_words - 1)
                )
            ).alias("_i"),
        )
        .distinct()
    )
    tok = base.select(
        "id", F.posexplode("_t").alias("_i0", "_w")
    ).select("id", (F.col("_i0") + 1).alias("_i"), "_w")
    kept = tok.join(covered, ["id", "_i"], "left_anti")
    kept_agg = kept.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("_nk"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_i", "_w"))
                ),
                lambda s: s["_w"],
            ),
        ).alias("_ct"),
    )
    out = (
        base.select("id", F.size("_t").cast("long").alias("n_tokens"))
        .join(kept_agg, "id", "left")
        .select(
            "id",
            "n_tokens",
            (
                F.col("n_tokens") - F.coalesce(F.col("_nk"), F.lit(0))
            ).alias("n_removed"),
            F.coalesce(F.col("_ct"), F.lit("")).alias("clean_text"),
        )
    )
    out._bdv_pinned = [base]
    return out
