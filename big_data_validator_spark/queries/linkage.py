"""Record-linkage entries over ``part``: blocking, Fellegi–Sunter EM and
classification, sorted neighbourhood and golden records."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_validator_spark.operators import dedup as D
from big_data_validator_spark.operators.dedup import release_pinned
from big_data_validator_spark.operators.linkage import (
    fs_classify_pairs,
    fs_em_weights,
    golden_records,
    link_entity_pairs,
    sorted_neighborhood_pairs,
)
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.loader import _t


def _part_matches(part: DataFrame) -> DataFrame:
    """Part-catalog match pairs: blocked on name token × size × brand,
    scored 50·token-Jaccard + 25 per agreeing brand and type, kept at
    a score of 80 or more."""
    return link_entity_pairs(
        part,
        id_col="p_partkey",
        name_col="p_name",
        block_cols=["p_size", "p_brand"],
        eq_cols=["p_brand", "p_type"],
        threshold=80,
    )


def _fs_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Fellegi–Sunter entries' candidate pairs: blocked on name
    token × size, with brand, type and retail-price band agreement."""
    part = _t(spark, sf_dir, "part").withColumn(
        "band", F.floor(F.col("p_retailprice") / 10).cast("long")
    )
    return link_entity_pairs(
        part,
        id_col="p_partkey",
        name_col="p_name",
        block_cols=["p_size"],
        eq_cols=["p_brand", "p_type", "band"],
        threshold=0,
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
    part = _t(spark, sf_dir, "part")
    # cap inert at every test sf (blocks are (token × size × brand),
    # far under 1000 members) — pinned by the _cap_inert test
    return D.materialize_release(_part_matches(part))


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
    pairs = _fs_candidates(spark, sf_dir)
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
    pairs = _fs_candidates(spark, sf_dir).cache()
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
    part = _t(spark, sf_dir, "part")
    # Keep a handle on the RAW pairs frame: .select() returns a new
    # DataFrame without the _bdv_pinned attribute, so the projection
    # must not be what materialize_release sees (ADVICE r12).
    raw_pairs = _part_matches(part).cache()
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
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", F.lower(F.col("p_name")).alias("k")
    )
    return sorted_neighborhood_pairs(
        part, id_col="p_partkey", key_col="k", window=5
    )
