"""Embedding-similarity entries over ``embeddings``: norms, brute-force
and approximate top-k (LSH, IVF, PQ, SQ8, Matryoshka, hybrid),
near-duplicate pairs and clusters, centroids and coresets."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_validator_spark.operators import adaptive_partitions, pin
from big_data_validator_spark.operators import dedup as D
from big_data_validator_spark.operators import rebalance_for_compute as _rb
from big_data_validator_spark.operators import similarity as S
from big_data_validator_spark.operators.similarity import quantized_hyperplanes
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.loader import _t


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


def _embeddings(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The top-k entries' corpus and queries: ``embeddings`` with its
    vectors cast to ``array<double>``, and its rows with ``vec_id < 5``."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return emb, emb.filter(F.col("vec_id") < 5)


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
    return S.brute_force_topk(*_embeddings(spark, sf_dir), k=10)


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

    src, _ = _embeddings(spark, sf_dir)
    # the audit's four pipelines all consume this cache; size its
    # partition count to the input, not the session constant
    # (operators.adaptive_partitions rationale)
    emb = pin(_rb(src).repartition(adaptive_partitions(src), "vec_id"))
    k, n_queries = 10, 5
    q = emb.filter(F.col("vec_id") < n_queries)
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
    return spark.createDataFrame(
        [
            (name, k, n_queries, int(hits), round(hits / (k * n_queries), 4))
            for name, hits in (
                (m, hit_counts.get(m, 0))
                for m in ("ivf_full_probe", "ivf_nprobe4", "lsh")
            )
        ],
        schema="method string, k int, n_queries int, hits int, recall double",
    )


@query("sim_ann_lsh")  # hash-dependent buckets: recall oracled via sim_ann_recall
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.lsh_ann_topk(
        *_embeddings(spark, sf_dir), dim=64, k=10, num_planes=8, num_tables=4
    )


@query("sim_ann_ivf")  # sampled k-means cells: recall oracled via sim_ann_recall
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.ivf_ann_topk(
        *_embeddings(spark, sf_dir), k=10, num_centroids=16, nprobe=4
    )


@query("sim_ann_pq")  # k-means codebooks: recall pytest-pinned vs brute force
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: corpus encoded to 8 small ints per
    vector (vs 256 float bytes), scored by asymmetric distance against
    broadcast per-query lookup tables — the memory-side scale lever
    (operators/similarity.py: pq_train/pq_encode_kernel/pq_ann_topk)."""
    return S.pq_ann_topk(*_embeddings(spark, sf_dir), dim=64, k=10)


def _dot(a: str, b: str) -> str:
    """DuckDB dot product of two integer lists.  It stays HUGEINT: a
    BIGINT cast would overflow the dot² · 10¹² near-dup verify product."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "x -> x[1] * x[2]))"
    )


def _lsh_bucket_ctes(
    dim: int,
    num_planes: int,
    num_tables: int,
    seed: int,
    quant_scale: int,
    plane_scale: int,
) -> str:
    """The exact-integer LSH oracles' first CTEs: ``q`` holds each
    vector quantized to integers ``qv``, ``b`` one (vector, table,
    bucket) row per hash table, bucketed by the same quantized
    hyperplanes the Spark kernels use."""
    selects = []
    for t in range(num_tables):
        planes = quantized_hyperplanes(
            dim, num_planes, seed + 1000 * t, plane_scale
        )
        bits = " + ".join(
            f"(CASE WHEN {_dot('qv', '[' + ','.join(map(str, p)) + ']::BIGINT[]')}"
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
    ),"""


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
    t2 = threshold_ppm * threshold_ppm
    buckets = _lsh_bucket_ctes(
        dim, num_planes, num_tables, seed, quant_scale, plane_scale
    )
    return f"""{buckets}
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
      FROM b a JOIN b c
        ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id
    ),
    v AS (
      SELECT cand.id_a, cand.id_b,
             {_dot('qa.qv', 'qb.qv')} AS dot,
             {_dot('qa.qv', 'qa.qv')} AS na2,
             {_dot('qb.qv', 'qb.qv')} AS nb2
      FROM cand
      JOIN q qa ON cand.id_a = qa.vec_id
      JOIN q qb ON cand.id_b = qb.vec_id
    )
    SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot_q,
           CAST(na2 AS BIGINT) AS na2, CAST(nb2 AS BIGINT) AS nb2
    FROM v
    WHERE dot > 0 AND dot * dot * 1000000000000 >= {t2} * na2 * nb2
    """


#: The exact-integer ANN entry's settings; its oracle reads the same.
_ANN_DIM = 64
_ANN_K = 10
_ANN_PLANES = 8
_ANN_TABLES = 4
_ANN_QUANT_SCALE = 100_000
_ANN_PLANE_SCALE = 10_000
_ANN_QUERIES = 5


def _sim_ann_exactint_oracle(
) -> str:
    """GENERATE the exact-integer ANN top-k oracle from the same
    quantized hyperplanes the Spark kernel uses.  Buckets and dot/norm
    integers are exact; the cosine double is two correctly-rounded IEEE
    ops over them, so its ORDER BY (ties by id) and floor(·1e6) score
    are bit-identical cross-engine."""
    buckets = _lsh_bucket_ctes(
        _ANN_DIM,
        _ANN_PLANES,
        _ANN_TABLES,
        S.SEED,
        _ANN_QUANT_SCALE,
        _ANN_PLANE_SCALE,
    )
    return f"""{buckets}
    bq AS (SELECT * FROM b WHERE vec_id < {_ANN_QUERIES}),
    cand AS (
      SELECT DISTINCT bq.vec_id AS query_id, bc.vec_id AS cand_id
      FROM bq JOIN b bc
        ON bq.tbl = bc.tbl AND bq.bucket = bc.bucket
    ),
    scored AS (
      SELECT c.query_id, c.cand_id,
             CAST({_dot('qc.qv', 'qq.qv')} AS DOUBLE)
               / sqrt(CAST({_dot('qc.qv', 'qc.qv')} AS DOUBLE)
                      * CAST({_dot('qq.qv', 'qq.qv')} AS DOUBLE)) AS cos
      FROM cand c
      JOIN q qc ON c.cand_id = qc.vec_id
      JOIN q qq ON c.query_id = qq.vec_id
      WHERE {_dot('qc.qv', 'qc.qv')} > 0 AND {_dot('qq.qv', 'qq.qv')} > 0
    ),
    r AS (
      SELECT query_id, cand_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, cand_id ASC) AS rank
      FROM scored)
    SELECT query_id, cand_id AS vec_id,
           CAST(floor(cos * 1000000) AS BIGINT) AS cosine_e6,
           CAST(rank AS INT) AS rank
    FROM r WHERE rank <= {_ANN_K}
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
    q = emb.filter(F.col("vec_id") < _ANN_QUERIES)
    return S.ann_topk_exactint(
        emb,
        q,
        dim=_ANN_DIM,
        k=_ANN_K,
        num_planes=_ANN_PLANES,
        num_tables=_ANN_TABLES,
        quant_scale=_ANN_QUANT_SCALE,
        plane_scale=_ANN_PLANE_SCALE,
    )


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
    return clusters.select("id", "cluster_id")


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
    return S.embedding_near_dup_pairs_exactint(
        emb,
        dim=64,
        threshold_ppm=350_000,
        num_planes=8,
        max_bucket_size=None,
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
        docs, emb, lambda c: c < 5, k=10, dense_top_m=100,
    )
    return out.select(
        "query_id",
        "vec_id",
        "rank_lex",
        "rank_dense",
        "rrf_score",
        "fused_rank",
    )


def _top10(score: str, lead: str = "") -> str:
    """The recall oracles' top-10 select: each query's 10 best rows of
    CTE ``scored`` by ``score`` (ties to the lower ``vec_id``), with the
    ``lead`` columns first."""
    return f"""
      SELECT {lead}query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {score} DESC, vec_id) AS r
        FROM scored) WHERE r <= 10"""


@query(
    "sim_matryoshka_recall",
    oracle=f"""
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
    truth AS ({_top10("dfull")}),
    pre AS ({_top10("d8", "8 AS prefix_dim, ")}
      UNION ALL{_top10("d16", "16, ")}
      UNION ALL{_top10("d32", "32, ")}),
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
    return S.matryoshka_recall(
        emb, emb.filter(F.col("vec_id") < 5), prefix_dims=[8, 16, 32], k=10
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
    oracle=f"""
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
    truth AS ({_top10("dfull")}),
    sq AS ({_top10("dsq")}),
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
    return S.sq8_recall(emb, emb.filter(F.col("vec_id") < 5), dim=64, k=10)
