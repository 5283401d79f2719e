"""Entity resolution / record linkage: blocked candidate generation +
field-agreement scoring (the Fellegi–Sunter shape, with fixed integer
agreement weights so verdicts are engine-portable).

The reference has no linkage surface; this is north-star scope — a
training-data pipeline deduplicating PRODUCT or AUTHOR entities across
sources needs exactly this: never all-pairs, block on cheap keys, score
only candidates, threshold into match/possible/non-match.

Scale contract:

- **Blocking is the only join** — candidates come from an equi-join on
  (blocking token, exact keys), so the shuffle carries (id, block-key)
  pairs; an entity pair never meets unless it shares a block.  Classic
  multi-pass linkage runs this operator once per blocking scheme and
  unions the pairs.
- **Scoring is pure integer arithmetic** — token-set Jaccard as
  ``(w · |A∩B|) div |A∪B|`` plus fixed weights per exact-equality
  field.  No floats anywhere, so the DuckDB oracle reproduces scores
  bit-exactly (the same integer-div idiom as the sampling oracles).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_validator_spark.operators import block_scan


def link_entity_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: Sequence[str] = (),
    eq_cols: Sequence[str] = (),
    name_weight: int = 50,
    eq_weight: int = 25,
    threshold: int = 75,
    max_block_size: Optional[int] = 1000,
) -> DataFrame:
    """Candidate pairs of entities likely to be the SAME real-world
    thing: block on (each distinct name token × ``block_cols``), then
    score ``name_weight·Jaccard(name tokens)`` (integer div) plus
    ``eq_weight`` per agreeing ``eq_cols`` field; keep pairs with
    ``score >= threshold``.

    The block self-join goes through the repo-wide
    :func:`~big_data_validator_spark.operators.dedup.capped_bucket_pairs`
    skew guard (ADVICE r7): a frequent name token — a stop word, a
    common brand word — would otherwise make one block O(size²).
    Blocks over ``max_block_size`` fall back to leader edges, which
    keeps the candidate graph connected for clustering but drops
    member↔member pairs inside that block — a corpus whose tokens are
    that skewed should add a discriminating ``block_cols`` entry or
    pre-filter stop-word tokens.  ``None`` disables the cap.

    Returns ``(id_a, id_b, inter, uni, <c>_eq..., score)`` with
    ``id_a < id_b`` — the agreement vector ships with the score so a
    reviewer (or a downstream trained model) can re-weight without
    re-running the join.
    """
    from big_data_validator_spark.operators.dedup import capped_bucket_pairs

    toks = F.array_distinct(F.split(F.col(name_col), " "))
    p = df.select(
        F.col(id_col).alias("id"),
        toks.alias("toks"),
        *[F.col(c) for c in [*block_cols, *eq_cols]],
    )
    b = p.select(
        "id", F.explode("toks").alias("tok"), *[F.col(c) for c in block_cols]
    )
    # NULL block values generate NO candidates (ADVICE r8): the
    # original join-based blocking used `==`, under which NULL never
    # matched, but capped_bucket_pairs groups by the block key and
    # groupBy treats NULL as one joinable bucket — silently pairing
    # every NULL-block entity.  Filter first to preserve the join
    # semantics; corpora that want NULL-block matching should coalesce
    # to a sentinel value explicitly.
    for c in ["tok", *block_cols]:
        b = b.filter(F.col(c).isNotNull())
    raw_pairs = capped_bucket_pairs(
        b, ["tok", *block_cols], max_block_size
    )
    cand = raw_pairs.select("id_a", "id_b").dropDuplicates(
        ["id_a", "id_b"]
    )
    pa = p.select(
        F.col("id").alias("id_a"),
        F.col("toks").alias("_ta"),
        *[F.col(c).alias(f"_a_{c}") for c in eq_cols],
    )
    pb = p.select(
        F.col("id").alias("id_b"),
        F.col("toks").alias("_tb"),
        *[F.col(c).alias(f"_b_{c}") for c in eq_cols],
    )
    scored = (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_ta", "_tb"))
            .cast("long")
            .alias("inter"),
            F.size(F.array_distinct(F.concat("_ta", "_tb")))
            .cast("long")
            .alias("uni"),
            *[
                (F.col(f"_a_{c}") == F.col(f"_b_{c}"))
                .cast("int")
                .alias(f"{c}_eq")
                for c in eq_cols
            ],
        )
    )
    score = F.expr(f"({int(name_weight)} * inter) div uni")
    for c in eq_cols:
        score = score + F.lit(int(eq_weight)) * F.col(f"{c}_eq")
    return scored.withColumn("score", score.cast("long")).filter(
        F.col("score") >= threshold
    )


#: EM starting point: per-field agreement probability under match (m)
#: and non-match (u), and the match prevalence λ.
INIT_M = 0.9
INIT_U = 0.1
INIT_LAMBDA = 0.5


def fs_em_weights(
    pairs: DataFrame,
    agree_cols: Sequence[str],
    iters: int = 3,
) -> "list[tuple[str, int]]":
    """LEARN Fellegi–Sunter match/non-match weights by EM over the
    candidate pairs' agreement patterns — the probabilistic-linkage
    trainer (Fellegi & Sunter 1969; the Splink/RecordLinkage estimation
    step) that replaces :func:`link_entity_pairs`' fixed integer
    weights with data-estimated ``m_i = P(agree_i | match)``,
    ``u_i = P(agree_i | non-match)`` and the match prevalence ``λ``.

    The classical formulation is EXACTLY pattern-count-sufficient: the
    distributed work is ONE aggregation of the candidate pairs into
    their ≤ 2^k agreement-pattern counts, and the EM loop runs over
    those counts alone — bounded driver arithmetic, like the BPE
    argmax and the IVF training sample.  At 100 TB the shuffle carries
    k-bit patterns, nothing else.

    Exactness contract (the unigram-trainer float discipline): pattern
    counts are exact integers; every EM quantity is a chain of
    correctly-rounded IEEE double ops in PINNED order (per-pattern
    class likelihoods multiply fields ascending, the E-step
    responsibility is one division, M-step sums fold patterns
    ascending), so a SQL engine replaying the same expressions gets
    bit-identical parameters; shipped values are floor-quantized ppm
    BIGINTs (floor of a double is engine-portable, round is not).

    Returns ``[('lambda', ppm), ('m_<col>', ppm), ('u_<col>', ppm),
    ...]``.
    """
    import math

    cols = list(agree_cols)
    k = len(cols)
    if not 1 <= k <= 8:
        raise ValueError(f"need 1..8 agreement columns, got {k}")
    rows = (
        pairs.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_pat = {
        tuple(int(r[c]) for c in cols): int(r["n"]) for r in rows
    }
    ns = [
        by_pat.get(tuple((g >> i) & 1 for i in range(k)), 0)
        for g in range(2**k)
    ]
    n_total = 0
    for x in ns:
        n_total += x
    if n_total == 0:
        raise ValueError("no candidate pairs — nothing to estimate")
    lam, m, u = _fs_em_core(ns, k, iters)
    out = [("lambda", int(math.floor(lam * 1000000.0)))]
    for i, c in enumerate(cols):
        out.append((f"m_{c}", int(math.floor(m[i] * 1000000.0))))
        out.append((f"u_{c}", int(math.floor(u[i] * 1000000.0))))
    return out


def _fs_posteriors(
    k: int, lam: float, m: "list[float]", u: "list[float]"
) -> "list[float]":
    """E-step responsibilities per agreement pattern — ``P(match | g)``
    for every ``g`` in 0..2^k−1 under the given parameters, with the
    same pinned multiply-ascending-fields order as the EM loop (so a
    SQL engine's replay is bit-identical)."""
    w = []
    for g in range(2**k):
        pm = lam
        pu = 1.0 - lam
        for i in range(k):
            if (g >> i) & 1:
                pm = pm * m[i]
                pu = pu * u[i]
            else:
                pm = pm * (1.0 - m[i])
                pu = pu * (1.0 - u[i])
        w.append(pm / (pm + pu))
    return w


def _fs_em_core(
    ns: "list[int]",
    k: int,
    iters: int,
) -> "tuple[float, list[float], list[float]]":
    """The EM loop over pattern counts (see :func:`fs_em_weights` for
    the exactness contract) — shared by the weight-estimation and the
    pair-classification entries."""
    n_total = 0
    for x in ns:
        n_total += x
    nf = float(n_total)
    lam = INIT_LAMBDA
    m = [INIT_M] * k
    u = [INIT_U] * k
    for _ in range(iters):
        w = _fs_posteriors(k, lam, m, u)
        sm = 0.0
        for g in range(2**k):
            sm = sm + ns[g] * w[g]
        su = nf - sm
        if sm == 0.0 or su == 0.0:
            raise ValueError(
                "EM collapsed to a single class — the candidate "
                "pattern counts carry no match/non-match signal"
            )
        # clamp every probability away from {0, 1} (the standard EM
        # regularization — an exact-0 parameter zeroes both class
        # likelihoods for some pattern next round).  min/max against
        # double literals is engine-portable (comparisons are exact).
        lo = 0.000001
        hi = 1.0 - 0.000001
        new_m, new_u = [], []
        for i in range(k):
            smi = 0.0
            sui = 0.0
            for g in range(2**k):
                if (g >> i) & 1:
                    smi = smi + ns[g] * w[g]
                    sui = sui + ns[g] * (1.0 - w[g])
            new_m.append(min(max(smi / sm, lo), hi))
            new_u.append(min(max(sui / su, lo), hi))
        lam, m, u = min(max(sm / nf, lo), hi), new_m, new_u
    return lam, m, u


#: Verdict thresholds on the floor-quantized posterior (ppm):
#: match >= MATCH_PPM > possible >= POSSIBLE_PPM > non-match.
MATCH_PPM = 900_000
POSSIBLE_PPM = 100_000


def fs_classify_pairs(
    pairs: DataFrame,
    agree_cols: Sequence[str],
    iters: int = 3,
) -> DataFrame:
    """CLASSIFY candidate pairs by Fellegi–Sunter posterior match
    probability — the decision step that completes the linkage loop
    (:func:`fs_em_weights` estimates, this applies): run the same EM
    over the pattern counts, take ONE more E-step under the final
    parameters, and stamp every pair with its pattern's posterior and
    the classical match / possible / non-match verdict.

    The verdict compares the FLOOR-QUANTIZED ppm posterior against
    integer thresholds — integer comparisons are engine-portable where
    float-threshold edges are not.  Distributed work: the pattern-count
    aggregation (bounded collect) plus one map-side stamp of the ≤ 2^k
    posteriors back onto the pairs via a literal CASE — no second
    shuffle, no join.

    Returns the pairs with ``(…agree_cols, posterior_ppm, verdict)``.
    """
    cols = list(agree_cols)
    k = len(cols)
    if not 1 <= k <= 8:
        raise ValueError(f"need 1..8 agreement columns, got {k}")
    rows = (
        pairs.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_pat = {
        tuple(int(r[c]) for c in cols): int(r["n"]) for r in rows
    }
    ns = [
        by_pat.get(tuple((g >> i) & 1 for i in range(k)), 0)
        for g in range(2**k)
    ]
    if sum(ns) == 0:
        raise ValueError("no candidate pairs — nothing to classify")
    lam, m, u = _fs_em_core(ns, k, iters)
    w = _fs_posteriors(k, lam, m, u)
    import math

    ppm = [int(math.floor(x * 1000000.0)) for x in w]
    post = F.lit(ppm[0])
    for g in range(1, 2**k):
        cond = F.lit(True)
        for i in range(k):
            cond = cond & (F.col(cols[i]) == ((g >> i) & 1))
        post = F.when(cond, F.lit(ppm[g])).otherwise(post)
    out = pairs.withColumn("posterior_ppm", post.cast("long"))
    return out.withColumn(
        "verdict",
        F.when(F.col("posterior_ppm") >= MATCH_PPM, F.lit("match"))
        .when(
            F.col("posterior_ppm") >= POSSIBLE_PPM, F.lit("possible")
        )
        .otherwise(F.lit("non_match")),
    )


def golden_records(
    df: DataFrame,
    cluster_col: str,
    id_col: str,
    attr_cols: Sequence[str],
) -> DataFrame:
    """Survivorship: the GOLDEN RECORD per entity cluster — after
    linkage/dedup groups records, pick each attribute's canonical
    value by the standard most-frequent-non-null rule (ties break to
    the smallest value; both choices deterministic, so the golden
    record is engine-portable).  This is the merge step every MDM /
    entity-resolution pipeline runs after clustering: N conflicting
    source records in, one survivor field-set out.

    Long-format output — one row per (cluster, attribute) — so the
    schema is stable for any attribute list and the oracle compares
    values, not a pivot: ``(cluster_key, n_members, canonical_id,
    attr, value, support)`` where ``canonical_id = min(id)`` (the
    keep-first dedup convention), ``support`` counts the records
    voting for the winning value, and only clusters with ≥2 members
    ship (singletons are already golden).  Attributes compare as
    strings (heterogeneous attr types share one column).

    Shuffle story: the melt is a row-local ``stack``; one aggregation
    keyed (cluster, attr, value) shrinks to the vote table, the
    winner window re-keys (cluster, attr) on the SHRUNKEN frame, and
    the member stats aggregate the (cluster, id) projection — nothing
    ever joins record-by-record.
    """
    if not attr_cols:
        raise ValueError("attr_cols must be non-empty")
    base = df.select(
        F.col(cluster_col).alias("_ck"),
        F.col(id_col).alias("_id"),
        *[F.col(a).cast("string").alias(a) for a in attr_cols],
    )
    members = (
        base.groupBy("_ck")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("_id").alias("canonical_id"),
        )
        .filter(F.col("n_members") >= 2)
    )
    stack_args = ", ".join(f"'{a}', {a}" for a in attr_cols)
    melted = base.select(
        "_ck",
        F.expr(
            f"stack({len(attr_cols)}, {stack_args}) AS (attr, value)"
        ),
    ).filter(F.col("value").isNotNull())
    votes = melted.groupBy("_ck", "attr", "value").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_ck", "attr").orderBy(
        F.col("support").desc(), F.col("value").asc()
    )
    best = (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
    )
    return (
        members.join(best, "_ck")
        .select(
            F.col("_ck").alias("cluster_key"),
            "n_members",
            "canonical_id",
            "attr",
            "value",
            "support",
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int,
    block_chars: int = 2,
    max_block_rows: int = 1_000_000,
) -> DataFrame:
    """Sorted-neighborhood (SNM) candidate generation — the classic
    complement to token blocking (Hernández & Stolfo 1995): sort
    records by a fuzzy key and pair each record with its ``window−1``
    successors in sort order, so near-misses that share NO exact token
    or block key (truncations, prefixes, typos past the first chars)
    still meet.  Multi-pass linkage unions this with
    :func:`link_entity_pairs`' token blocks.

    Distributed, no global single-task sort: the global rank is a
    :func:`~big_data_validator_spark.operators.block_scan` row count
    over STRING keys — ``block = key prefix`` partitions the
    lexicographic order contiguously.  The prefix
    length ADAPTS to skew (VERDICT r12): starting at ``block_chars``,
    a cheap prefix-count probe finds blocks over ``max_block_rows``
    and lengthens ONLY those blocks' prefixes one character at a time
    (a longer prefix still partitions the lexicographic order
    contiguously — any extension of a prefix sorts after the bare
    prefix), so a corpus where most keys share one short prefix can
    no longer collapse the scan's per-block window into one giant
    partition.  Keys identical for their full length are
    unsplittable by construction and terminate the refinement; the
    final pair set is INVARIANT to blocking (blocks only compute the
    global rank), so refinement never changes results.  Neighbor
    pairs (0 < rank_b − rank_a ≤ window−1) come from an equi-join on
    ``rank div (window−1)`` buckets (each left row probes its own and
    the next bucket — any in-range pair shares one of the two), so
    the shuffle carries ~2n bucket-keyed rows and the output is
    exactly n·(window−1) bounded — never a cross join.  Ties order by
    (key, id): deterministic and engine-portable.

    Rows with a NULL key are EXCLUDED from candidate generation (the
    :func:`link_entity_pairs` NULL-block precedent, ADVICE r12): a
    NULL fuzzy key carries no sort position, so such rows generate no
    neighbor pairs rather than silently vanishing mid-plan.

    Returns ``(id_a, id_b, gap)`` with ``id_a``'s rank below
    ``id_b``'s and ``gap`` their rank distance in [1, window−1].
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if block_chars <= 0:
        raise ValueError(
            f"block_chars must be positive, got {block_chars}"
        )
    if max_block_rows < 1:
        raise ValueError(
            f"max_block_rows must be positive, got {max_block_rows}"
        )
    s = window - 1
    base = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(key_col).cast("string").alias("_k"),
        )
        .filter(F.col("_k").isNotNull())
        .withColumn("_blk", F.substring("_k", 1, block_chars))
    )
    # Adaptive skew refinement: deepen oversized blocks' prefixes.
    # Each probe is a tiny aggregate (one row per distinct prefix);
    # the oversized list is bounded by n / max_block_rows entries.
    depth, max_depth = block_chars, block_chars + 16
    while depth < max_depth:
        grow = [
            r["_blk"]
            for r in base.groupBy("_blk")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(
                (F.col("_n") > max_block_rows)
                # prefixes shorter than the current depth are keys in
                # full — identical keys cannot be split further
                & (F.length("_blk") >= depth)
            )
            .collect()
        ]
        if not grow:
            break
        depth += 1
        base = base.withColumn(
            "_blk",
            F.when(
                F.col("_blk").isin(grow),
                F.substring("_k", 1, depth),
            ).otherwise(F.col("_blk")),
        )
    # global rank = rows before this one in (key, id) order, plus 1
    ones = base.withColumn("_one", F.lit(1))
    ranked = block_scan(ones, F.col("_blk"), ["_k", "_id"], ["_one"]).select(
        "_id", (F.col("_one_before") + 1).alias("_rn")
    )
    left = ranked.select(
        F.col("_id").alias("id_a"),
        F.col("_rn").alias("_ra"),
        F.explode(
            F.array(
                (F.col("_rn") / s).cast("long"),
                (F.col("_rn") / s).cast("long") + 1,
            )
        ).alias("_bkt"),
    )
    right = ranked.select(
        F.col("_id").alias("id_b"),
        F.col("_rn").alias("_rb"),
        (F.col("_rn") / s).cast("long").alias("_bkt"),
    )
    return (
        left.join(right, "_bkt")
        .filter(
            (F.col("_rb") > F.col("_ra"))
            & (F.col("_rb") <= F.col("_ra") + s)
        )
        .select(
            "id_a", "id_b", (F.col("_rb") - F.col("_ra")).alias("gap")
        )
    )
