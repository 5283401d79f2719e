"""Embedding similarity: top-k search, recall audits, near-duplicates,
semantic dedup, rank fusion and coresets.

Every top-k operator is candidate generation followed by one exact
rerank, :func:`_top_k` (``score DESC, id ASC``, ``row_number``, cut at
``k``).  The generators differ only in how candidates reach it:

- :func:`brute_force_topk` — a broadcast cross join of the queries
  against the corpus: O(|queries| × |corpus|), but the corpus never
  shuffles;
- :func:`lsh_ann_topk` — an equi-join on ``(table, bucket)`` of
  random-hyperplane sign buckets (:func:`lsh_buckets_kernel`); recall
  is tuned by ``num_planes``/``num_tables``;
- :func:`ivf_probe_topk` — an equi-join on the ``nprobe`` nearest cells
  of a k-means coarse quantizer;
- :func:`pq_ann_topk` — product-quantization codes scored against
  per-query lookup tables;
- :func:`ann_topk_exactint` — the ``(table, bucket)`` join over
  integer-quantized vectors and hyperplanes, exact in any engine.

Brute force, LSH and IVF score candidates with one round-6 cosine
(:func:`_cosine_top_k`) against one broadcast query projection
(:func:`_query_side`).  The SQ8 and Matryoshka audits are one recall
audit (:func:`_recall_audit`).  The exact-integer near-duplicate pairs,
SemDeDup and the k-center coreset share the integer quantization;
:func:`hybrid_lexical_dense_rrf` fuses a lexical ranking with the
brute-force one through :func:`rrf_fuse`.

Scoring is expression-level (``zip_with`` / ``aggregate``
higher-order functions); Python runs only in the Arrow bucketing,
assignment and encoding kernels, one matmul per batch.
"""

from __future__ import annotations

import random
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_validator_spark.functions.exprs import cosine_similarity
from big_data_validator_spark.operators import pin, rebalance_for_compute
from big_data_validator_spark.operators.dedup import _shingle_rows, capped_bucket_pairs

SEED = 42


# ------------------------------------------------ candidates and rerank

def _top_k(
    scored: DataFrame, score: str, k: int, id_col: str, rank: str
) -> DataFrame:
    """The one per-query rerank: number each query's rows into ``rank``
    by ``score`` descending, ties to the lower ``id_col``, and keep the
    first ``k``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col(id_col).asc()
    )
    return scored.withColumn(rank, F.row_number().over(w)).filter(
        F.col(rank) <= k
    )


def _query_side(
    queries: DataFrame, id_col: str, vec: Column, *extra: Column
) -> DataFrame:
    """The broadcast query projection ``(query_id, _qvec, *extra)`` —
    the small side by construction, so the corpus streams past it."""
    return F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), vec.alias("_qvec"), *extra
        )
    )


def _cosine_top_k(
    cands: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Score ``(query_id, id, vec, _qvec)`` candidates by round-6 cosine
    and rerank them: ``(query_id, id, cosine, rank)``."""
    scored = cands.select(
        "query_id",
        id_col,
        F.round(cosine_similarity(F.col(vec_col), F.col("_qvec")), 6).alias(
            "cosine"
        ),
    )
    return _top_k(scored, "cosine", k, id_col, "rank")


def _fold(a: Column, b: Column, zero: Column) -> Column:
    """``zero + Σ a[i]·b[i]``: the dot product every scorer folds."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), zero, lambda acc, v: acc + v
    )


def _dot(a: Column, b: Column) -> Column:
    """Round-6 float dot product — the audits' rank-determinism device."""
    return F.round(_fold(a, b, F.lit(0.0)), 6)


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two ``array<bigint>`` columns as
    DECIMAL(38,0) — expression-level, codegen-friendly, reproducible."""
    return _fold(a, b, F.lit(0).cast("long")).cast("decimal(38,0)")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus; both
    frames carry ``id_col`` and ``vec_col``.

    Every (query, corpus row) pair is a candidate: the query side is
    broadcast, so the corpus streams through executors without a
    shuffle.  Returns ``(query_id, vec_id, cosine, rank)``;
    self-matches excluded.
    """
    cands = (
        rebalance_for_compute(corpus)
        .select(F.col(id_col), F.col(vec_col))
        .join(
            _query_side(queries, id_col, F.col(vec_col)),
            F.col(id_col) != F.col("query_id"),
        )
    )
    return _cosine_top_k(cands, k, id_col, vec_col)


def _random_hyperplanes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH (driver-side; tiny)."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)
    ]


def quantized_hyperplanes(
    dim: int,
    num_planes: int,
    seed: int,
    scale: int = 10_000,
) -> list[list[int]]:
    """:func:`_random_hyperplanes` quantized to integer units — the
    bucketing geometry for the EXACT-INTEGER paths, where every
    arithmetic step must be bit-reproducible by any engine (half-up
    rounding happens once, driver-side, in Python)."""
    return [
        [int(round(x * scale)) for x in plane]
        for plane in _random_hyperplanes(dim, num_planes, seed)
    ]


def lsh_buckets_kernel(tables: Sequence[Sequence[Sequence[float]]]):
    """Arrow-batched kernel computing EVERY table's bucket id in one
    ``V @ P.T`` matmul: stack all tables' hyperplanes into a single
    (tables*planes, dim) matrix, take signs (``>= 0``), pack bit ``j`` of
    each table's id from plane ``j``.  Returns a pandas_udf column:
    ``array<bigint>`` of ``len(tables)`` bucket ids per row, NULL for a
    NULL vector.

    The matmul runs in the hyperplanes' dtype: float64 for
    :func:`_random_hyperplanes`, int64 for :func:`quantized_hyperplanes`
    over pre-quantized vectors.  int64 products are EXACT (no FMA, no
    reassociation error), so the integer sign pattern is reproducible
    by any engine summing the same integers in any order; magnitudes
    are bounded by construction (|q| ≤ ~1e5, |plane| ≤ ~1e5, dim ≤ 4096
    keeps sums < 2^63).  One BLAS call per Arrow batch in place of
    tables×planes interpreted array passes per row."""
    import numpy as np

    from pyspark.sql.pandas.functions import pandas_udf

    num_tables = len(tables)
    num_planes = len(tables[0])
    P = np.array([p for planes in tables for p in planes])  # (tables*planes, dim)
    weights = 1 << np.arange(num_planes, dtype=np.int64)  # bit packing

    @pandas_udf("array<bigint>")
    def kernel(vs):
        import pandas as pd

        null_mask = vs.isna()
        if null_mask.all():
            return pd.Series([None] * len(vs))
        V = np.stack(
            [
                np.zeros(P.shape[1], dtype=P.dtype)
                if m
                else np.asarray(v, dtype=P.dtype)
                for v, m in zip(vs, null_mask)
            ]
        )
        signs = (V @ P.T) >= 0
        buckets = (
            signs.reshape(len(vs), num_tables, num_planes).astype(np.int64)
            * weights
        ).sum(axis=2)
        out = pd.Series(list(buckets))
        out[null_mask] = None
        return out

    return kernel


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 8,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing an LSH bucket
    with the query in at least one of ``num_tables`` hash tables.

    Candidate generation joins on (table, bucket) — equi-join, shuffle of
    (id, bucket) pairs only.  Recall rises with tables, cost with
    2^-num_planes bucket occupancy; defaults give ~0.9 recall on 64-d
    Gaussian data (pinned by tests against :func:`brute_force_topk`).
    Returns ``(query_id, vec_id, cosine, rank)``; self-matches excluded.
    """
    kernel = lsh_buckets_kernel(
        [
            _random_hyperplanes(dim, num_planes, SEED + 1000 * t)
            for t in range(num_tables)
        ]
    )
    buckets = F.posexplode(kernel(vec_col)).alias("table", "bucket")
    cands = (
        rebalance_for_compute(corpus)
        .select(F.col(id_col), F.col(vec_col), buckets)
        .join(
            _query_side(queries, id_col, F.col(vec_col), buckets),
            ["table", "bucket"],
        )
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, vec_col, "_qvec")
        .dropDuplicates(["query_id", id_col])
    )
    return _cosine_top_k(cands, k, id_col, vec_col)


_KMEANS_ITERS = 8


def _train_centroids_kmeans(
    vectors, num_centroids: int, seed: int = 42
):
    """Driver-side mini k-means over a bounded sample (numpy, deterministic
    seed + fixed iterations).  The sample is small by construction — the
    coarse quantizer needs only the shape of the distribution, not the
    data; FAISS trains IVF the same way."""
    import numpy as np

    X = np.asarray(vectors, dtype=np.float64)
    rng = np.random.RandomState(seed)
    idx = rng.choice(len(X), size=min(num_centroids, len(X)), replace=False)
    C = X[idx].copy()
    for _ in range(_KMEANS_ITERS):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


_TRAIN_SAMPLE = 1024


def _train_sample(corpus: DataFrame, id_col: str, vec_col: str) -> list:
    """The index trainers' bounded deterministic sample: the vectors of
    the ``_TRAIN_SAMPLE`` smallest ids, in one collect.  orderBy+limit
    plans as a distributed top-k (TakeOrderedAndProject), so the sample
    is stable across runs and partitionings — a bare limit() picks
    whichever tasks finish first, which would make centroids (and ANN
    recall) run-dependent."""
    return [
        r[1]
        for r in corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(_TRAIN_SAMPLE)
        .collect()
    ]


def ivf_assign_kernel(centroids, nprobe: int):
    """Arrow kernel: nearest-``nprobe`` centroid ids per vector (one
    distance matmul per batch).  ``nprobe=1`` assigns corpus cells;
    queries probe several cells to recover recall at the cell boundary —
    the classic IVF trade-off."""
    import numpy as np

    from pyspark.sql.pandas.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    cn2 = (C**2).sum(axis=1)

    @pandas_udf("array<int>")
    def kernel(vs):
        import pandas as pd

        out = []
        for v in vs:
            if v is None:
                out.append(None)
                continue
            x = np.asarray(v, dtype=np.float64)
            d2 = cn2 - 2 * (C @ x)  # ||c||² - 2c·x (+||x||² is rank-free)
            out.append(np.argsort(d2, kind="stable")[:nprobe].astype(np.int32))
        return pd.Series(out)

    return kernel


def ivf_train(
    corpus: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train the IVF coarse quantizer from :func:`_train_sample`.

    Split out of :func:`ivf_ann_topk` so an audit running SEVERAL probe
    settings over one corpus trains (and collects) ONCE — the training
    collect is a whole Spark job, and at audit-query granularity job count
    dominates wall-clock long before data size does (BENCH r4).
    """
    return _train_centroids_kmeans(
        _train_sample(corpus, id_col, vec_col), num_centroids, seed=SEED
    )


def ivf_assign_cells(
    corpus: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Arrow matmul pass assigning every corpus vector its nearest
    cell — shareable across any number of probe settings."""
    assign1 = ivf_assign_kernel(centroids, 1)
    return corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.element_at(assign1(vec_col), 1).alias("cell"),
    )


def ivf_probe_topk(
    cells: DataFrame,
    queries: DataFrame,
    centroids,
    nprobe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Score each query against the ``nprobe`` nearest cells of a
    pre-assigned corpus (:func:`ivf_assign_cells`): candidates join on
    the cell id.  Returns ``(query_id, vec_id, cosine, rank)``;
    self-matches excluded."""
    probe = ivf_assign_kernel(centroids, nprobe)
    cands = (
        cells.join(
            _query_side(
                queries,
                id_col,
                F.col(vec_col),
                F.explode(probe(vec_col)).alias("cell"),
            ),
            "cell",
        )
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, vec_col, "_qvec")
    )
    return _cosine_top_k(cands, k, id_col, vec_col)


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: coarse k-means quantizer partitions the
    corpus into cells; each query scores only the ``nprobe`` nearest cells.

    At 100 TB: centroid training reads a bounded sample (driver-side
    k-means over ≤``_TRAIN_SAMPLE`` vectors), cell assignment is one Arrow
    matmul pass, and the probe join is an equi-join on cell id — shuffle
    volume O(n) cell tuples, never O(n²) pairs.  Expected scan fraction is
    ``nprobe/num_centroids`` of the corpus per query, the standard IVF
    trade-off.  Returns ``(query_id, vec_id, cosine, rank)``; rows-only
    (sampling + float iteration make it engine-specific), recall pinned in
    pytest against :func:`brute_force_topk`.

    Composition of :func:`ivf_train` → :func:`ivf_assign_cells` →
    :func:`ivf_probe_topk`; call the pieces directly to share the
    quantizer across probe settings.
    """
    corpus = rebalance_for_compute(corpus)
    centroids = ivf_train(corpus, num_centroids, id_col=id_col, vec_col=vec_col)
    cells = ivf_assign_cells(corpus, centroids, id_col, vec_col)
    return ivf_probe_topk(cells, queries, centroids, nprobe, k, id_col, vec_col)


def pq_train(
    corpus: DataFrame,
    dim: int,
    num_subspaces: int = 8,
    codes_per_subspace: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train product-quantization codebooks: split the vector into
    ``num_subspaces`` contiguous blocks and k-means each block
    independently over :func:`_train_sample` (the bounded driver work
    :func:`ivf_train` does).

    Returns a ``(num_subspaces, codes_per_subspace, dim/num_subspaces)``
    numpy array.  PQ is the memory-side scale lever the hash/cell indexes
    don't give: an encoded vector is ``num_subspaces`` small ints
    (8 bytes at the defaults) instead of ``4·dim`` float bytes — at
    100 TB of embeddings that is the difference between a scored scan
    that fits executor memory and one that doesn't.  Vectors are
    L2-normalized before training/encoding so minimum squared distance
    equals maximum cosine (monotonic equivalence on the unit sphere).
    """
    import numpy as np

    if dim % num_subspaces != 0:
        raise ValueError("dim must divide evenly into num_subspaces")
    X = np.asarray(_train_sample(corpus, id_col, vec_col), dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dsub = dim // num_subspaces
    books = [
        _train_centroids_kmeans(
            X[:, s * dsub : (s + 1) * dsub], codes_per_subspace, seed=SEED + s
        )
        for s in range(num_subspaces)
    ]
    return np.stack(books)


def pq_encode_kernel(codebooks):
    """Arrow kernel: nearest-centroid code per subspace — one distance
    matmul per (batch, subspace).  Output ``array<int>`` of codes."""
    import numpy as np

    from pyspark.sql.pandas.functions import pandas_udf

    B = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)
    m, _, dsub = B.shape
    bn2 = (B**2).sum(axis=2)  # (m, k)

    @pandas_udf("array<int>")
    def kernel(vs):
        import pandas as pd

        out = []
        for v in vs:
            if v is None:
                out.append(None)
                continue
            x = np.asarray(v, dtype=np.float64)
            x = x / max(np.linalg.norm(x), 1e-12)
            xs = x.reshape(m, dsub)  # (m, dsub)
            # ||c||² - 2c·x per subspace; ||x||² is rank-free
            d2 = bn2 - 2 * np.einsum("mkd,md->mk", B, xs)
            out.append(d2.argmin(axis=1).astype(np.int32))
        return pd.Series(out)

    return kernel


_PQ_CODES = 16


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_subspaces: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance top-k: encode the corpus once (tiny codes),
    score each (query, code) pair by summing per-subspace lookup-table
    entries — queries stay full-precision, the corpus never needs its
    floats again after encoding.

    The LUT per query is ``num_subspaces × codes_per_subspace`` doubles —
    broadcast with the query set; scoring is a pure expression over the
    code array (``aggregate`` over zipped LUT slices), JVM-side, no
    Python in the scoring scan.  Returns ``(query_id, vec_id, adc_score,
    rank)`` where higher ``adc_score`` ≈ higher cosine; self-matches
    excluded; rows-only (k-means codebooks are engine-specific), recall
    pinned in pytest against :func:`brute_force_topk`.
    """
    import numpy as np

    corpus = rebalance_for_compute(corpus)
    books = pq_train(
        corpus, dim, num_subspaces, _PQ_CODES, id_col=id_col, vec_col=vec_col
    )
    encode = pq_encode_kernel(books)
    coded = corpus.select(F.col(id_col), encode(vec_col).alias("_codes"))

    B = np.asarray(books)  # (m, k, dsub)
    m, kc, dsub = B.shape

    # per-query LUT of NEGATED squared distances (so bigger = closer),
    # flattened to one literal array the scoring expression indexes into:
    # lut[s*kc + code] — built driver-side from the collected query set
    # (the query side is small by construction, same as brute force)
    lut_rows = []
    for r in _query_side(queries, id_col, F.col(vec_col)).collect():
        x = np.asarray(r["_qvec"], dtype=np.float64)
        x = x / max(np.linalg.norm(x), 1e-12)
        xs = x.reshape(m, dsub)
        d2 = (B**2).sum(axis=2) - 2 * np.einsum("mkd,md->mk", B, xs)
        lut_rows.append((r["query_id"], [float(v) for v in (-d2).ravel()]))
    spark = corpus.sparkSession
    luts = F.broadcast(
        spark.createDataFrame(lut_rows, "query_id long, _lut array<double>")
    )

    # ADC score = Σ_s lut[s*kc + code_s]: aggregate over the code array
    # with its position — JVM expression, codegen'd, no Python per row
    scored = (
        coded.join(luts, F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("_codes"),
                        F.sequence(F.lit(0), F.lit(m - 1)),
                        lambda code, s: F.element_at(
                            F.col("_lut"), s * kc + code + 1
                        ),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("adc_score"),
        )
    )
    return _top_k(scored, "adc_score", k, id_col, "rank")


# ----------------------------------------------- exact-integer near-dup

def quantize_vec(vec_col, scale: int):
    """``floor(x * scale)`` per component as ``array<bigint>``.  floor of
    the IEEE double product is engine-portable (the multiply is a single
    rounding, identical everywhere), unlike half-up rounding, which
    DuckDB applies to the binary value but Spark to the shortest decimal
    repr — ties flip between them."""
    return F.transform(
        vec_col.cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(scale))).cast("long"),
    )


def _check_decimal_verify(name: str, dim: int, quant_scale: int) -> None:
    """Refuse a ``dim``/``quant_scale`` pair whose exact verify products
    overflow DECIMAL(38,0) (ADVICE r7): both extremes — dot²·10¹² and
    t_ppm²·na²·nb² — are bounded by (dim·quant_scale²)²·10¹² for
    unit-range components, and past DECIMAL(38,0) the non-ANSI products
    NULL out and the filter silently drops EVERY pair.  dim·quant_scale²
    must stay below 1e13, i.e. dim < ~1000 at the default quant_scale."""
    if (dim * quant_scale * quant_scale) ** 2 * 10**12 >= 10**38:
        raise ValueError(
            f"{name}: dim * quant_scale**2 = "
            f"{dim * quant_scale * quant_scale:.3g} >= 1e13 pushes the "
            "exact verify products past DECIMAL(38,0) (they would NULL "
            "out and drop all pairs); lower quant_scale — precision is "
            "~1/quant_scale per component — or reduce dim"
        )


def _verified_pairs(pairs: DataFrame, threshold_ppm: int) -> DataFrame:
    """The exact-integer cosine verdict over candidate pairs
    ``(id_a, id_b, qv_a, qv_b)``: distinct pairs with
    ``cos ≥ threshold_ppm / 1e6``, decided WITHOUT sqrt or division as
    ``dot > 0 ∧ dot²·10¹² ≥ threshold_ppm²·|a|²·|b|²`` in DECIMAL(38,0).
    Returns ``(id_a, id_b, dot, na2, nb2)``."""
    t2 = F.lit(threshold_ppm * threshold_ppm).cast("decimal(13,0)")
    return (
        pairs.dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            _int_dot(F.col("qv_a"), F.col("qv_b")).alias("dot"),
            _int_dot(F.col("qv_a"), F.col("qv_a")).alias("na2"),
            _int_dot(F.col("qv_b"), F.col("qv_b")).alias("nb2"),
        )
        .filter(
            (F.col("dot") > 0)
            & (
                (F.col("dot") * F.col("dot"))
                * F.lit(10**12).cast("decimal(13,0)")
                >= t2 * F.col("na2") * F.col("nb2")
            )
        )
    )


def embedding_near_dup_pairs_exactint(
    df: DataFrame,
    dim: int,
    threshold_ppm: int = 950_000,
    num_planes: int = 10,
    num_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant_scale: int = 100_000,
    plane_scale: int = 10_000,
    max_bucket_size: Optional[int] = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with EXACT integer
    semantics end-to-end, so the result is oracle-checkable (VERDICT r6
    item 1).

    Every step after the one driver-side hyperplane quantization is
    integer arithmetic, so ANY engine reproduces the output bit-exactly
    (no FMA/reassociation hazard):

    1. quantize: ``q[i] = floor(embedding[i] * quant_scale)`` (int64);
    2. bucket:   sign pattern of ``q · plane_int`` per table — int64
       matmul in an Arrow kernel (:func:`lsh_buckets_kernel` over
       :func:`quantized_hyperplanes`);
    3. candidates: per-(table, bucket) self-join with the
       ``capped_bucket_pairs`` skew guard;
    4. verify: ``cos(a, b) >= threshold_ppm / 1e6`` decided WITHOUT
       sqrt or division (:func:`_verified_pairs`) — with
       ``quant_scale = 1e5`` and 64 dims the extreme magnitudes are
       ~3e34, inside DECIMAL(38,0) and DuckDB's HUGEINT.

    Returns ``(id_a, id_b, dot_q, na2, nb2)`` with ``id_a < id_b`` —
    all exact integers (the cosine itself is irrational; consumers
    needing it compute ``dot_q / sqrt(na2 * nb2)``).

    Scale shape: one projection + one shuffle on the bucket key,
    capped per-bucket self-join, no all-pairs work.  The quantization
    wobble (~1e-5 per component) only moves pairs whose true cosine sits
    within ~1e-4 of the threshold — and moves them identically in every
    engine, which is the point.
    """
    _check_decimal_verify("embedding_near_dup_pairs_exactint", dim, quant_scale)
    df = rebalance_for_compute(df)
    kernel = lsh_buckets_kernel(
        [
            quantized_hyperplanes(dim, num_planes, seed + 1000 * t, plane_scale)
            for t in range(num_tables)
        ]
    )
    q = df.select(
        F.col(id_col).alias("id"),
        quantize_vec(F.col(vec_col), quant_scale).alias("qv"),
    )
    b = q.select(
        "id",
        "qv",
        F.posexplode(kernel("qv")).alias("table", "bucket"),
    )
    pairs = capped_bucket_pairs(
        b, ["table", "bucket"], max_bucket_size, payload_cols=["qv"]
    )
    return _verified_pairs(pairs, threshold_ppm).select(
        "id_a",
        "id_b",
        F.col("dot").cast("long").alias("dot_q"),
        F.col("na2").cast("long").alias("na2"),
        F.col("nb2").cast("long").alias("nb2"),
    )


def ann_topk_exactint(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 8,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant_scale: int = 100_000,
    plane_scale: int = 10_000,
) -> DataFrame:
    """LSH ANN top-k with EXACT cross-engine semantics — the
    oracle-checkable sibling of :func:`lsh_ann_topk` (whose float
    buckets/scores are hash-stable only within one engine).

    Same integer contract as
    :func:`embedding_near_dup_pairs_exactint`: vectors floor-quantized
    to 1/``quant_scale`` units, buckets from int64 sign patterns
    (:func:`lsh_buckets_kernel` over :func:`quantized_hyperplanes`),
    candidates = corpus rows sharing ≥1 (table, bucket) with a query.
    The COSINE itself is then safe as a double: ``dot``, ``|a|²``,
    ``|b|²`` are exact integers, and ``dot / sqrt(|a|²·|b|²)`` is two
    correctly-rounded IEEE ops on a once-rounded product — bit-identical
    in every conforming engine, so the per-query ORDER BY over it (ties
    broken by id) is too.  The emitted score is ``floor(cosine · 1e6)``
    (floor of identical doubles; ``round`` would re-open the
    shortest-repr-vs-binary trap).

    Unlike its float siblings, it KEEPS self-matches: a query in the
    corpus is its own candidate (cosine 1, normally rank 1), as in its
    oracle.

    Scale shape: corpus bucketed in one Arrow pass + one shuffle on the
    bucket key; the query side is tiny and broadcasts; scoring touches
    only candidate rows (never |queries| × |corpus|).  Zero-norm
    vectors (all components under the quantization floor) are excluded
    — cosine is undefined for them.

    Returns ``(query_id, {id_col}, cosine_e6, rank)`` with
    ``rank <= k``.
    """
    corpus = rebalance_for_compute(corpus)
    kernel = lsh_buckets_kernel(
        [
            quantized_hyperplanes(dim, num_planes, SEED + 1000 * t, plane_scale)
            for t in range(num_tables)
        ]
    )

    def bucketize(df: DataFrame, out_id: str) -> DataFrame:
        q = df.select(
            F.col(id_col).alias(out_id),
            quantize_vec(F.col(vec_col), quant_scale).alias(f"_qv_{out_id}"),
        )
        return q.select(
            out_id,
            f"_qv_{out_id}",
            F.posexplode(kernel(f"_qv_{out_id}")).alias("table", "bucket"),
        )

    bc = bucketize(corpus, "cand_id")
    bq = bucketize(queries, "query_id")
    cand = (
        bc.join(
            F.broadcast(bq.select("query_id", "_qv_query_id", "table", "bucket")),
            ["table", "bucket"],
        )
        .select("query_id", "cand_id", "_qv_query_id", "_qv_cand_id")
        .dropDuplicates(["query_id", "cand_id"])
    )
    dot = _int_dot(F.col("_qv_cand_id"), F.col("_qv_query_id")).cast("double")
    na2 = _int_dot(F.col("_qv_cand_id"), F.col("_qv_cand_id")).cast("double")
    nb2 = _int_dot(F.col("_qv_query_id"), F.col("_qv_query_id")).cast("double")
    scored = cand.select(
        "query_id",
        F.col("cand_id").alias(id_col),
        (dot / F.sqrt(na2 * nb2)).alias("_cos"),
        na2.alias("_na2"),
        nb2.alias("_nb2"),
    ).filter((F.col("_na2") > 0) & (F.col("_nb2") > 0))
    return _top_k(scored, "_cos", k, id_col, "rank").select(
        "query_id",
        id_col,
        F.floor(F.col("_cos") * F.lit(1_000_000.0))
        .cast("long")
        .alias("cosine_e6"),
        "rank",
    )


# ------------------------------------------------------------- SemDeDup

def _tdiv(a: int, b: int) -> int:
    """Integer division TRUNCATING toward zero — the semantics Spark's
    ``div`` (Java) and DuckDB's BIGINT ``//`` share.  Python's ``//``
    floors instead (−7 // 2 = −4, not −3), so the driver-side k-means
    below must not use it: centroid components are routinely negative
    and a one-unit centroid difference cascades into different
    assignments, silently breaking the generated oracle."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _int_d2(qv: Sequence[int], cv: Sequence[int]) -> int:
    """Rank-equivalent squared L2 distance ``|c|² − 2·q·c`` (the
    ``|q|²`` term is constant per vector and never affects the argmin
    — the same rank-free form :func:`ivf_assign_kernel` uses)."""
    cc = sum(c * c for c in cv)
    qc = sum(q * c for q, c in zip(qv, cv))
    return cc - 2 * qc


def _assert_int64_matmul_exact(max_x: int, max_c: int, dim: int) -> None:
    """Fail LOUDLY if the rank-free distance ``|c|² − 2·q·c`` could
    exceed int64 — np.int64 wraps silently on overflow, and the whole
    exact-integer contract (Spark kernel == overflow-checked DuckDB
    oracle) rests on every intermediate staying below 2**63 (ADVICE
    r10: the |component| <= quant_scale assumption was stated in a
    comment but never validated, so an unnormalized embedding could
    produce silently-wrong centroids)."""
    bound = dim * max_c * (max_c + 2 * max_x)
    if bound >= 2**62:
        raise ValueError(
            "int64 distance kernel would overflow: dim * maxC * "
            f"(maxC + 2*maxX) = {bound} >= 2**62 (dim={dim}, "
            f"max|x|={max_x}, max|c|={max_c}); normalize or use a "
            "smaller quant_scale"
        )


def train_centroids_exactint(
    sample: Sequence, num_centroids: int, iters: int = 2
) -> list:
    """Deterministic INTEGER k-means over a bounded sample — the coarse
    quantizer for :func:`semantic_dedup_exactint`, designed so a SQL
    engine reproduces the exact same centroids from the same data
    (which is what lets the entry's oracle TRAIN ITSELF as unrolled
    CTEs instead of receiving data-dependent literals):

    - ``sample`` is ``[(id, qv)]`` with integer-quantized vectors,
      ordered by id (the caller's ``ORDER BY id LIMIT n`` makes the
      set engine-portable);
    - init = the first ``num_centroids`` vectors (no RNG);
    - assignment = argmin of the integer ``|c|² − 2·q·c`` with ties to
      the LOWEST centroid id;
    - update = element-wise ``sum div count`` with TRUNCATING division
      (:func:`_tdiv` — Spark ``div`` / DuckDB ``//`` semantics);
      empty clusters keep their previous centroid.

    Every operation is exact integer arithmetic, so any engine that
    replays these rules gets bit-identical centroids — float k-means
    can never cross that bridge (sum order changes the means).
    """
    import numpy as np

    pts = [list(map(int, qv)) for _, qv in sample]
    if not pts:
        raise ValueError("empty training sample")
    k = min(num_centroids, len(pts))
    dim = len(pts[0])
    # int64 matmul is exact here: |component| <= quant_scale (1e5), so a
    # dim<=1e4 dot product stays far below 2**63 — which is what lets
    # the assignment step vectorize (auto-k runs k in the hundreds; the
    # former pure-python argmin loop was O(sample*k*dim) interpreter
    # ops, and tests/test_semantic_dedup.py pins parity with the
    # from-scratch reference rules).
    X = np.asarray(pts, dtype=np.int64)
    # centroids are truncated means of sample points, so |c| <= max|x|
    # for every iteration — one guard covers the whole loop; the
    # per-cluster sums are bounded by n * max|x| and checked too
    mx = int(np.abs(X).max()) if X.size else 0
    _assert_int64_matmul_exact(mx, mx, dim)
    if len(pts) * mx >= 2**62:
        raise ValueError(
            f"int64 centroid-sum would overflow: n*max|x| = "
            f"{len(pts) * mx} >= 2**62"
        )
    cents = [list(p) for p in pts[:k]]
    for _ in range(iters):
        C = np.asarray(cents, dtype=np.int64)
        # rank-free |c|^2 - 2 q.c; np.argmin takes the FIRST minimum,
        # which is exactly the ties-to-lowest-cid rule
        d2 = (C * C).sum(axis=1)[None, :] - 2 * (X @ C.T)
        best = d2.argmin(axis=1)
        counts = np.bincount(best, minlength=k)
        sums = np.zeros((k, dim), dtype=np.int64)
        np.add.at(sums, best, X)
        cents = [
            [_tdiv(int(sums[j][i]), int(counts[j])) for i in range(dim)]
            if counts[j]
            else cents[j]
            for j in range(k)
        ]
    return cents


def int_assign_kernel(centroids: Sequence[Sequence[int]]):
    """Arrow kernel assigning each integer-quantized vector its nearest
    centroid (int64 matmul, argmin with ties to the lowest id — numpy's
    argmin picks the first minimum).  Pure map-side: no shuffle, no
    crossJoin; the centroid matrix rides the closure."""
    import numpy as np

    from pyspark.sql.pandas.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.int64)
    cn2 = (C * C).sum(axis=1)
    mc = int(np.abs(C).max()) if C.size else 0

    @pandas_udf("int")
    def kernel(qvs):
        import pandas as pd

        mask = qvs.notna()
        out = pd.Series([None] * len(qvs), dtype="Int32")
        if mask.any():
            # one batched int64 matmul per Arrow batch instead of a
            # per-row loop — auto-k runs k in the hundreds, and the
            # batch matmul keeps assignment a BLAS call; exactness is
            # ASSERTED per batch, not assumed (np.int64 wraps silently)
            X = np.asarray(list(qvs[mask]), dtype=np.int64)
            _assert_int64_matmul_exact(
                int(np.abs(X).max()), mc, X.shape[1]
            )
            d2 = cn2[None, :] - 2 * (X @ C.T)
            out[mask] = d2.argmin(axis=1).astype("int32")
        return out

    return kernel


def two_level_assign_kernel(
    centroids: Sequence[Sequence[int]],
    supercells: Sequence[Sequence[int]],
    centroid_supercell: Sequence[int],
):
    """Arrow kernel for TWO-LEVEL assignment (the IVF shape): nearest
    non-empty supercell first (``m`` dot products), then nearest
    centroid among THAT supercell's members only — cutting per-point
    work from ``k`` to ``m + k/m`` dot products, the device that keeps
    assignment sub-``n·k`` once auto-k pushes k into the thousands.
    All ties go to the lowest id (np.argmin takes the first minimum;
    member lists are sorted ascending).  Returns the final centroid id
    (the dedup cell) — points in different supercells can never share
    a cell, because a cell's members live in exactly one supercell."""
    import numpy as np

    from pyspark.sql.pandas.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.int64)
    members: dict[int, list[int]] = {}
    for cid, s in enumerate(centroid_supercell):
        members.setdefault(int(s), []).append(cid)
    # only supercells that own at least one centroid are assignable;
    # ties resolve to the lowest ORIGINAL scid among the non-empty
    live = sorted(members)
    S = np.asarray([supercells[s] for s in live], dtype=np.int64)
    sn2 = (S * S).sum(axis=1)
    mem_idx = {
        pos: np.asarray(sorted(members[s]), dtype=np.int64)
        for pos, s in enumerate(live)
    }
    mc = max(
        int(np.abs(C).max()) if C.size else 0,
        int(np.abs(S).max()) if S.size else 0,
    )

    @pandas_udf("int")
    def kernel(qvs):
        import pandas as pd

        mask = qvs.notna()
        out = pd.Series([None] * len(qvs), dtype="Int32")
        if mask.any():
            X = np.asarray(list(qvs[mask]), dtype=np.int64)
            _assert_int64_matmul_exact(
                int(np.abs(X).max()), mc, X.shape[1]
            )
            sup = (sn2[None, :] - 2 * (X @ S.T)).argmin(axis=1)
            cells = np.empty(len(X), dtype=np.int64)
            for pos in np.unique(sup):
                rows = np.where(sup == pos)[0]
                mids = mem_idx[int(pos)]
                Cm = C[mids]
                d2 = (Cm * Cm).sum(axis=1)[None, :] - 2 * (
                    X[rows] @ Cm.T
                )
                cells[rows] = mids[d2.argmin(axis=1)]
            out[mask] = cells.astype("int32")
        return out

    return kernel


#: Integer k-means rounds of the SemDeDup quantizer (its oracle reads it).
SEMDEDUP_KMEANS_ITERS = 2


def semantic_dedup_exactint(
    df: DataFrame,
    dim: int,
    num_clusters: int = 8,
    threshold_ppm: int = 300_000,
    train_sample: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant_scale: int = 100_000,
    target_cluster_size: Optional[int] = None,
    train_oversample: int = 4,
    train_sample_cap: int = 65_536,
    supercell_size: Optional[int] = None,
) -> DataFrame:
    """SemDeDup-style embedding-cluster dedup (VERDICT r8 item 5): the
    SEMANTIC tier above lexical MinHash/SimHash — cluster the corpus
    with a coarse k-means quantizer, compare pairs WITHIN a cluster
    only, and prune every item that has a smaller-id semantic
    duplicate (cosine ≥ threshold), keeping one representative per
    duplicate set.  This is the cluster-then-prune shape LLM corpus
    curation runs (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    candidate generation is |cluster|²-bounded, never corpus².

    Exact-integer contract end-to-end (the
    :func:`embedding_near_dup_pairs_exactint` discipline):

    - vectors floor-quantized to 1/``quant_scale`` units;
    - the k-means trainer is :func:`train_centroids_exactint` over the
      ``train_sample`` smallest ids — integer arithmetic with
      truncating division, so a SQL oracle RETRAINS the identical
      centroids from the parquet data (no data-dependent literals);
    - full-corpus assignment via :func:`int_assign_kernel` (map-side
      Arrow int64 matmul, ties to lowest centroid id);
    - within-cluster candidate pairs through
      :func:`~big_data_validator_spark.operators.dedup.capped_bucket_pairs`
      with no cap: every within-cluster pair is compared, so the verdict
      stays exact (the within-cluster-only discipline is pinned in
      tests);
    - the duplicate verdict is the sqrt-free integer predicate
      ``dot > 0 ∧ dot²·10¹² ≥ t_ppm²·|a|²·|b|²`` in DECIMAL(38,0).

    Returns one row per input vector: ``({id_col}, cell, keep)`` —
    ``keep = false`` iff a smaller-id within-cluster duplicate exists.

    Scale: training is a bounded deterministic collect (the
    :func:`ivf_train` device); assignment is one Arrow pass; the pair
    stage shuffles on the cluster id; at 100 TB raise ``num_clusters``
    (or use ``target_cluster_size``) so clusters stay pair-join-sized
    (SemDeDup runs k in the tens of thousands).

    **Auto-k (VERDICT r9 item 2)**: pass ``target_cluster_size`` to
    make the cluster count scale WITH the corpus instead of the
    clusters —

    - ``k = ceil(n / target_cluster_size)`` (one count job),
    - training sample = ``min(n, train_oversample·k,
      train_sample_cap)``, still an id-ordered deterministic collect,
    - ``num_clusters`` / ``train_sample`` are ignored.

    This is what makes the pair stage LINEAR in n: cluster population
    stays ~``target_cluster_size`` at any scale, so candidate pairs are
    ``O(n·target)`` instead of the fixed-k ``O(n²/k)``.  The oracle can
    still retrain the identical quantizer because both ``k`` and the
    sample size are integer functions of ``COUNT(*)`` (data-dependent
    LIMITs, no literals).  The residual superlinear term is assignment
    (``n·k`` int64 FLOPs, a batched matmul) — killed by the TWO-LEVEL
    mode below; ``train_sample_cap`` bounds the driver collect and
    clamps k once it binds.

    **Two-level quantizer** (the published SemDeDup/IVF answer to
    assignment cost): pass ``supercell_size`` to train
    ``m = ceil(k / supercell_size)`` SUPERCELLS over the centroids
    (same exact-integer trainer, driver-side — the input is only k
    rows), map each centroid to its nearest supercell, and assign
    points in two hops: nearest non-empty supercell (m dots), then
    nearest centroid among that supercell's members (~supercell_size
    dots) — ``m + k/m`` per point instead of ``k``.  This CHANGES the
    partition (it is the IVF approximation, not a shortcut), so the
    oracle retrains the supercells and replays the two-hop rule with
    the same exact-integer arithmetic; the within-cluster pair stage
    is unchanged.
    """
    _check_decimal_verify("semantic_dedup_exactint", dim, quant_scale)
    df = rebalance_for_compute(df)
    q = df.select(
        F.col(id_col).alias("id"),
        quantize_vec(F.col(vec_col), quant_scale).alias("qv"),
    )
    if target_cluster_size is not None:
        # auto-k: k and the sample size are integer functions of n so
        # the generated oracle recomputes them from COUNT(*) — keep
        # these three lines in lockstep with the oracle's kk CTE
        n = q.count()
        k0 = (n + target_cluster_size - 1) // target_cluster_size
        train_sample = min(n, train_oversample * k0, train_sample_cap)
        num_clusters = min(k0, train_sample)
    # bounded deterministic training collect (TakeOrderedAndProject —
    # the ivf_train device); quantized in-plan so the sample is the
    # same integers the oracle's SQL quantization produces
    sample = [
        (r["id"], r["qv"])
        for r in q.orderBy("id").limit(train_sample).collect()
    ]
    cents = train_centroids_exactint(
        sample, num_clusters, iters=SEMDEDUP_KMEANS_ITERS
    )
    if supercell_size is not None:
        # two-level: supercells trained over the CENTROIDS (k tiny
        # rows, pure driver), each centroid mapped to its nearest
        # supercell, points assigned supercell-first — keep these
        # rules in lockstep with the oracle's sc*/ca/ps CTEs
        m = (len(cents) + supercell_size - 1) // supercell_size
        sups = train_centroids_exactint(
            list(enumerate(cents)), m, iters=SEMDEDUP_KMEANS_ITERS
        )
        c2s = [
            min(
                range(len(sups)),
                key=lambda s: (_int_d2(cents[j], sups[s]), s),
            )
            for j in range(len(cents))
        ]
        assigner = two_level_assign_kernel(cents, sups, c2s)
    else:
        assigner = int_assign_kernel(cents)
    # Persist the assigned frame: it feeds BOTH legs of the
    # within-cluster pair self-join AND the final keep/prune re-join,
    # and without the pin each consumer re-runs the quantize+assign
    # Arrow kernels over a fresh corpus scan (the r13 before-plan shows
    # three parquet scans and five ArrowEvalPython nodes for what is
    # one logical Python pass — guide §4: cross the Python boundary
    # once; §5: persist only what is re-read).  Cached hash-partitioned
    # ON THE CELL at min(parallelism, k) partitions: the pair self-join
    # is keyed by cell, so both legs consume the cached partitioning
    # with no further Exchange (guide §2.4), and the partition count
    # tracks the cluster count instead of the session constant (a
    # 1-partition cache starves the quadratic per-cell verify; a
    # 32-partition cache of a tiny corpus pays 32-task overhead per
    # consumer — both measured at sf0.1).  The kernels still run at the
    # rebalanced width upstream of the repartition.  Released by the
    # caller with the pair-stage pins.
    cell_parts = max(
        1, min(df.sparkSession.sparkContext.defaultParallelism, len(cents))
    )
    assign = pin(
        q.select("id", "qv", assigner(F.col("qv")).alias("cell"))
        .repartition(cell_parts, "cell")
    )
    pairs = capped_bucket_pairs(
        assign.select("id", "qv", "cell"),
        ["cell"],
        None,  # uncapped: every within-cluster pair is compared
        payload_cols=["qv"],
    )
    dup = _verified_pairs(pairs, threshold_ppm)
    # NOT broadcast: SemDeDup prune rates run to double-digit percent
    # of the corpus, so the pruned set scales with the data — let AQE
    # pick broadcast only when runtime stats say it fits.
    pruned = dup.select(F.col("id_b").alias("_pruned_id")).distinct()
    return (
        assign.join(
            pruned,
            assign["id"] == pruned["_pruned_id"],
            "left",
        )
        .select(
            F.col("id").alias(id_col),
            "cell",
            F.col("_pruned_id").isNull().alias("keep"),
        )
    )


# ------------------------------------------------------------ rank fusion

_RRF_K = 60


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    rank_a_col: str = "rank_a",
    rank_b_col: str = "rank_b",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR 2009) of
    two per-query rankings: ``RRF(d) = Σ_r 1/(rrf_k + rank_r(d))``,
    summing only over the rankings that actually list ``d`` — the
    standard missing-member convention, which is what lets truncated
    candidate lists fuse without a full cross-product.

    Inputs are ``(query_id, id, rank)`` relations.  The full outer join
    and the fused-rank window both partition by ``query_id``, so one
    Exchange serves both; per-query frame size is bounded by the UNION
    of the two lists (at scale, feed top-M lists, not full rankings).
    ``rrf_score`` is a sum of at most two exact small-int reciprocals —
    deterministic across engines — rounded to 6; ties break by id.
    Returns ``(query_id, id, rank_a, rank_b, rrf_score, fused_rank)`` for
    ``fused_rank <= k``; absent-list ranks ship as NULL.
    """
    a = ranked_a.select("query_id", id_col, rank_a_col)
    b = ranked_b.select("query_id", id_col, rank_b_col)
    fused = a.join(b, ["query_id", id_col], "full_outer").withColumn(
        "rrf_score",
        F.round(
            F.coalesce(
                1.0 / (F.lit(_RRF_K) + F.col(rank_a_col)), F.lit(0.0)
            )
            + F.coalesce(
                1.0 / (F.lit(_RRF_K) + F.col(rank_b_col)), F.lit(0.0)
            ),
            6,
        ),
    )
    return _top_k(fused, "rrf_score", k, id_col, "fused_rank")


_HYBRID_N = 5


def hybrid_lexical_dense_rrf(
    docs: DataFrame,
    emb: DataFrame,
    query_pred,
    dense_top_m: int,
    k: int = 10,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval: fuse a LEXICAL ranking (shared character
    ``_HYBRID_N``-gram count between query text and candidate text — exact
    integers, the BM25-shaped signal without corpus statistics) with a
    DENSE ranking (embedding cosine) via :func:`rrf_fuse`.  This is the
    configuration RRF exists for — two signals with disjoint failure
    modes (lexical misses paraphrase, dense misses rare exact tokens:
    ids, code, numbers), fused without training a reranker.

    ``query_pred`` selects the query documents (evaluated against BOTH
    tables' id columns — doc ids and vec ids must identify the same
    corpus).  The query side of every join is broadcast:

    - lexical: the corpus inverted shingle index streams ONCE against
      the broadcast query shingles — candidates are docs sharing ≥1
      shingle with a query, postings-bounded, never pairwise in the
      corpus;
    - dense: the corpus embeddings stream ONCE against the broadcast
      query vectors, and the dense list is truncated to ``dense_top_m``
      per query (e.g. ``max(k*10, 100)``) — RRF's missing-member
      convention is exactly what makes truncated candidate lists
      fusable, so the rank window and the fusion join carry
      |queries|·M rows, not |queries|·|corpus| (the pytest twin pins
      that it loses nothing at the fused cutoff on the bench corpus).
      A candidate at dense rank M+1 loses its contribution, so the
      result can differ from the untruncated fusion in general
      (ADVICE r12); ``dense_top_m`` ≥ the corpus size is the exact
      full ranking.

    Ranks are deterministic: lexical by (common DESC, id), dense by the
    round-6 cosine with id tie-break.  Self-matches are excluded on both
    sides.  Candidates outside the dense top-M ship ``rank_dense``
    NULL (absent from that list).  Returns ``(query_id, vec_id,
    rank_lex, rank_dense, rrf_score, fused_rank)``, top ``k`` fused
    per query.
    """
    q_ids = docs.filter(query_pred(F.col(doc_id_col)))
    # exploded-row shingle builder: positions explode first (codegen
    # Generate) and substring compiles whole-stage, instead of the
    # interpreted array HOF whose output would be exploded anyway —
    # same distinct (id, shingle) relation, ~6x faster extraction
    inv = _shingle_rows(docs, text_col, doc_id_col, _HYBRID_N)
    qinv = F.broadcast(
        _shingle_rows(q_ids, text_col, doc_id_col, _HYBRID_N).select(
            F.col("id").alias("query_id"), "_sh"
        )
    )
    ci = inv.alias("ci")
    qi = qinv.alias("qi")
    lex = (
        ci.join(
            qi,
            (F.col("ci._sh") == F.col("qi._sh"))
            & (F.col("ci.id") != F.col("qi.query_id")),
        )
        .groupBy(F.col("qi.query_id").alias("query_id"), F.col("ci.id"))
        .agg(F.count(F.lit(1)).alias("_common"))
        .select(
            "query_id",
            F.col("id").alias(vec_id_col),
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    F.col("_common").desc(), F.col("id").asc()
                )
            )
            .alias("rank_lex"),
        )
    )
    queries = emb.filter(query_pred(F.col(vec_id_col)))
    dense = brute_force_topk(
        emb, queries, k=dense_top_m, id_col=vec_id_col, vec_col=vec_col
    ).select("query_id", vec_id_col, F.col("rank").alias("rank_dense"))
    return rrf_fuse(
        lex,
        dense,
        k=k,
        id_col=vec_id_col,
        rank_a_col="rank_lex",
        rank_b_col="rank_dense",
    )


def kcenter_coreset(
    emb: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant_scale: int = 100_000,
) -> DataFrame:
    """Greedy k-center CORESET selection (Gonzalez 1985 farthest-point
    traversal — the 2-approximation to the k-center cover): start from
    the minimum id, then repeatedly add the point FARTHEST from every
    chosen center.  This is the standard coverage-maximizing data
    selector — the geometric complement to DSIR's distribution
    matching: DSIR picks what looks like the target, k-center picks a
    set that SPANS the corpus (dataset pruning, active-learning seeds,
    eval-set construction; Sener & Savarese 2018 use exactly this for
    core-set active learning).

    Exactness: components quantize once via the established
    ``floor(x·quant_scale)`` int64 device, squared L2 distances are
    exact integer sums (guarded against overflow by the ACTUAL max
    |quantized component| measured from the data, not an assumed
    bound), and every argmax breaks ties by smallest id — the
    selection SEQUENCE is engine-portable, so the oracle replays it
    as unrolled CTEs.

    Scale: k−1 corpus passes over a persisted RUNNING min-distance
    column ``_mind`` — each round folds ONE distance expression
    (against only the newest center) into ``least(_mind, d_new)``, so
    total fold work is O(k·n·dim) and the per-round expression size is
    constant in k (VERDICT r12: the previous form rebuilt all k folds
    as literals per round — O(k²·n·dim) work and a plan growing k·dim
    literals per expression).  Each round's frame persists and the
    prior round unpersists, so exactly two cached copies of
    ``(id, _qv, _mind)`` exist at any instant; nothing joins, no data
    rows shuffle, each pass ends in TakeOrdered(1).  Returns
    ``(center_rank, vec_id, radius2)`` where ``radius2`` is the
    selected point's exact squared quantized distance to the prior
    centers — the non-increasing coverage-radius sequence that IS the
    k-center diagnostic (NULL for rank 0).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = rebalance_for_compute(emb).select(
        F.col(id_col).alias("id"),
        quantize_vec(F.col(vec_col), quant_scale).alias("_qv"),
    )
    pin(q)
    seed = q.orderBy("id").first()
    if seed is None:
        raise ValueError(
            "kcenter_coreset: input is empty — no seed point to start "
            "the greedy traversal from"
        )
    if k > 1:
        # Overflow guard on the MEASURED max |quantized component|
        # (ADVICE r12: the previous guard assumed |x| <= 5 without
        # checking): the distance fold sums dim terms of (a-b)^2 with
        # |a-b| <= 2*max_abs, so the total is < dim*(2*max_abs)^2.
        max_abs = int(
            q.agg(
                F.max(
                    F.array_max(
                        F.transform(F.col("_qv"), lambda x: F.abs(x))
                    )
                )
            ).first()[0]
            or 0
        )
        if dim * (2 * max_abs) ** 2 >= 2**62:
            raise ValueError(
                f"kcenter_coreset: dim*(2*max|q|)^2 = "
                f"{dim * (2 * max_abs) ** 2} overflows the int64 "
                f"distance accumulator (max |quantized component| = "
                f"{max_abs}); lower quant_scale"
            )

    def _dist_to(cvec: list) -> "F.Column":
        lit = F.array(*[F.lit(int(x)) for x in cvec])
        return F.aggregate(
            F.zip_with(
                F.col("_qv"), lit, lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    centers = [(int(seed["id"]), list(seed["_qv"]), None)]
    cur = None
    for _ in range(1, k):
        newest = centers[-1][1]
        if cur is None:
            nxt = q.select(
                "id", "_qv", _dist_to(newest).alias("_mind")
            )
        else:
            nxt = cur.select(
                "id",
                "_qv",
                F.least(F.col("_mind"), _dist_to(newest)).alias(
                    "_mind"
                ),
            )
        pin(nxt)
        far = (
            nxt.orderBy(F.col("_mind").desc(), F.col("id").asc())
            .limit(1)
            .first()
        )
        if cur is not None:
            cur.unpersist()
        cur = nxt
        centers.append(
            (int(far["id"]), list(far["_qv"]), int(far["_mind"]))
        )
    spark = emb.sparkSession
    return spark.createDataFrame(
        [
            (i, cid, r)
            for i, (cid, _v, r) in enumerate(centers)
        ],
        "center_rank long, vec_id long, radius2 long",
    )


# --------------------------------------------------------- recall audits

def _recall_audit(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    arms: Sequence[tuple[list, Column]],
) -> DataFrame:
    """Recall@k of each arm's ranking against the full-precision round-6
    dot ranking, from ONE broadcast-join scoring pass.

    ``arms`` is ``[(lead, score)]``: ``score`` is a Column over the
    candidate vector ``_cvec`` and the query vector ``_qvec`` (both
    ``array<double>``), ``lead`` the columns that start the arm's rows.
    The corpus streams once for every arm.  Both the scored frame and
    the truth top-k are pinned: every arm's rank window reads the
    first, and each arm reads the second twice — unpinned, Spark
    re-executes the corpus-scoring join once per reference.  Ranks
    break ties by id; self-matches are excluded.  Returns ``(*lead,
    query_id, n_hits, recall)`` per arm and query, unordered, with
    ``recall = |top-k(arm) ∩ top-k(truth)| / k``."""
    q = _query_side(queries, id_col, F.col(vec_col).cast("array<double>"))
    scored = pin(
        rebalance_for_compute(emb)
        .select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("_cvec"),
        )
        .join(q, F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            _dot(F.col("_cvec"), F.col("_qvec")).alias("_truth"),
            *(score.alias(f"_arm{i}") for i, (_, score) in enumerate(arms)),
        )
    )

    def top(score: str) -> DataFrame:
        return _top_k(scored, score, k, id_col, "_r").select("query_id", id_col)

    truth = pin(top("_truth"))
    out = None
    for i, (lead, _) in enumerate(arms):
        hits = (
            top(f"_arm{i}")
            .join(truth, ["query_id", id_col], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        n_hits = F.coalesce("n_hits", F.lit(0))
        row = truth.select("query_id").distinct().join(
            hits, "query_id", "left"
        ).select(
            *lead,
            "query_id",
            n_hits.cast("long").alias("n_hits"),
            F.round(n_hits / F.lit(float(k)), 6).alias("recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def sq8_recall(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantization (SQ8) audit: quantize every embedding to
    8-bit per dimension with per-dimension min/max scaling — the FAISS
    ``SQ8`` / vector-DB "int8 compression" recipe that cuts index
    bytes 4× vs float32 — rank by the EXACT INTEGER dot product of the
    quantized vectors, and measure recall@k against the full-precision
    dot ranking.  This is the measurement that decides whether a
    production index can take the 4× memory cut (the Matryoshka audit
    answers the same question for DIMENSION cuts; this one for WIDTH).
    The ranking scores raw code dots — the symmetric-int8 kernel SIMD
    inference paths actually execute — so the audit measures BOTH loss
    sources: code rounding and the affine-offset geometry shift (the
    int-code dot is not rank-equivalent to the float dot even with
    exact codes; only a zero-offset uniform-scale corpus is lossless,
    pinned in tests).

    Two corpus passes, nothing pairwise-unbounded: (1) one aggregation
    computes per-dimension min/max (2·dim partial-agg expressions, no
    shuffle of rows); (2) the :func:`_recall_audit` scoring pass of the
    ``queries`` against the corpus computes BOTH the int8 dot and the
    float dot per (query, candidate).  Quantization is row-local
    ``transform`` arithmetic: ``q_i = clamp(round((x_i − lo_i) ·
    255/(hi_i − lo_i)), 0, 255)`` (constant dims pin to 0), the
    quantized dot is exact-integer so ranks are engine-portable with
    id tie-breaks.  Returns ``(query_id, n_hits, recall)``, one row per
    query, ordered.
    """
    if dim <= 0:
        raise ValueError(f"dim must be positive, got {dim}")
    stats = emb.agg(
        *[
            f
            for i in range(dim)
            for f in (
                F.min(F.col(vec_col)[i]).alias(f"_lo{i}"),
                F.max(F.col(vec_col)[i]).alias(f"_hi{i}"),
            )
        ]
    ).first()
    lo = [float(stats[f"_lo{i}"]) for i in range(dim)]
    hi = [float(stats[f"_hi{i}"]) for i in range(dim)]
    scale = [
        (255.0 / (h - l)) if h > l else 0.0 for l, h in zip(lo, hi)
    ]
    lo_arr = F.array(*[F.lit(x) for x in lo])
    sc_arr = F.array(*[F.lit(s) for s in scale])

    def quantize(vec):
        return F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: F.least(
                F.greatest(
                    F.round(
                        (F.element_at(vec, i) - F.element_at(lo_arr, i))
                        * F.element_at(sc_arr, i),
                        0,
                    ),
                    F.lit(0.0),
                ),
                F.lit(255.0),
            ).cast("long"),
        )

    int8_dot = _fold(
        quantize(F.col("_cvec")),
        quantize(F.col("_qvec")),
        F.lit(0).cast("long"),
    )
    return _recall_audit(
        emb, queries, k, id_col, vec_col, [([], int8_dot)]
    ).orderBy("query_id")


def matryoshka_recall(
    emb: DataFrame,
    queries: DataFrame,
    prefix_dims: Sequence[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka (MRL) prefix-dimension audit: for each prefix length
    d, rank the corpus by the dot product of the FIRST d components
    only and measure recall@k against the full-dimension ranking — the
    measurement that decides how many dimensions a production index
    actually needs (Kusupati et al. 2022: MRL-trained embeddings keep
    most recall at small prefixes; this operator tells you whether
    YOURS do before you cut the index size 8×).

    ONE :func:`_recall_audit` scoring pass computes every prefix's dot
    product per (query, candidate) — ``slice`` + the same round-6 fold,
    so the corpus streams ONCE for all prefixes, not once per prefix;
    each prefix's rank window partitions by the same query key.
    Returns ``(prefix_dim, query_id, n_hits, recall)`` with ``recall =
    |top-k(prefix) ∩ top-k(full)| / k``, one row per (prefix, query),
    ordered.
    """
    arms = [
        (
            [F.lit(int(d)).alias("prefix_dim")],
            _dot(
                F.slice(F.col("_cvec"), 1, int(d)),
                F.slice(F.col("_qvec"), 1, int(d)),
            ),
        )
        for d in prefix_dims
    ]
    return _recall_audit(emb, queries, k, id_col, vec_col, arms).orderBy(
        "prefix_dim", "query_id"
    )
