from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from big_data_validator_spark.operators import multimodal as M
from big_data_validator_spark.operators import similarity as S


@pytest.fixture(scope="module")
def vectors(spark):
    """Clustered vectors (like real embeddings): 8 Gaussian centers with 5
    noisy members each — a vector's true top-k are its cluster mates, the
    regime LSH is designed for.  Plus one planted near-copy of vec 0."""
    rng = random.Random(7)
    dim = 16
    rows = []
    vid = 0
    for _ in range(8):
        center = [rng.gauss(0, 1) for _ in range(dim)]
        for _ in range(5):
            rows.append(
                (vid, [float(c + rng.gauss(0, 0.15)) for c in center])
            )
            vid += 1
    base0 = rows[0][1]
    rows.append((100, [float(x + 0.01) for x in base0]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"]), dim


def cosine(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    return dot / (na * nb)


def test_brute_force_topk_matches_python(spark, vectors):
    df, dim = vectors
    data = {r["vec_id"]: r["embedding"] for r in df.collect()}
    queries = df.filter(F.col("vec_id") == 0)
    got = S.brute_force_topk(df, queries, k=5).collect()
    assert len(got) == 5
    expected = sorted(
        ((vid, cosine(data[0], v)) for vid, v in data.items() if vid != 0),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert [r["vec_id"] for r in got] == [e[0] for e in expected]
    assert got[0]["vec_id"] == 100  # the planted near-copy wins
    for r, e in zip(got, expected):
        assert abs(r["cosine"] - e[1]) < 1e-4


def test_brute_force_broadcasts_queries(spark, vectors):
    df, _ = vectors
    q = df.limit(2)
    plan = (
        S.brute_force_topk(df, q, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_lsh_ann_recall(spark, vectors):
    df, dim = vectors
    queries = df.filter(F.col("vec_id") < 5)
    exact = S.brute_force_topk(df, queries, k=5).collect()
    approx = S.lsh_ann_topk(df, queries, dim=dim, k=5, num_planes=6, num_tables=8)
    got = approx.collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    got_sets = {}
    for r in got:
        got_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(exact_sets[q] & got_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.6  # approximate, but useful


def _sign_bucket(vec, planes):
    """Bucket id by plain Python: bit ``j`` set iff ``vec · planes[j] >= 0``."""
    return sum(
        1 << j
        for j, p in enumerate(planes)
        if sum(a * h for a, h in zip(vec, p)) >= 0
    )


@pytest.mark.parametrize("quantized", [False, True])
def test_lsh_kernel_matches_python_sign_replay(spark, vectors, quantized):
    """One kernel for both geometries: every row's bucket ids equal a
    plain-Python sign replay, for float hyperplanes over float vectors
    and for quantized-int hyperplanes over quantized vectors (the int64
    matmul).  A NULL row inside a batch stays NULL, and so does every
    row of an all-NULL batch."""
    df, dim = vectors
    rows = {r["vec_id"]: r["embedding"] for r in df.collect()}
    if quantized:
        tables = [S.quantized_hyperplanes(dim, 6, 42 + 1000 * t) for t in range(3)]
        rows = {i: [math.floor(x * 100_000) for x in v] for i, v in rows.items()}
        schema = "vec_id long, v array<bigint>"
    else:
        tables = [S._random_hyperplanes(dim, 6, 42 + 1000 * t) for t in range(3)]
        schema = "vec_id long, v array<double>"
    kernel = S.lsh_buckets_kernel(tables)

    def buckets(data):
        frame = spark.createDataFrame(data, schema).coalesce(1)  # one batch
        return {
            r["vec_id"]: r["b"]
            for r in frame.select("vec_id", kernel("v").alias("b")).collect()
        }

    want = {i: [_sign_bucket(v, planes) for planes in tables] for i, v in rows.items()}
    assert buckets(list(rows.items()) + [(-1, None)]) == want | {-1: None}
    assert buckets([(-1, None), (-2, None)]) == {-1: None, -2: None}


def test_ivf_ann_recall(spark, vectors):
    df, _ = vectors
    queries = df.filter(F.col("vec_id") < 5)
    exact = S.brute_force_topk(df, queries, k=5).collect()
    got = S.ivf_ann_topk(
        df, queries, k=5, num_centroids=8, nprobe=3
    ).collect()
    exact_sets, got_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in got:
        got_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(exact_sets[q] & got_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # clustered data (8 true centers, 8 centroids): probing 3 cells must
    # recover most true neighbors
    assert sum(recalls) / len(recalls) >= 0.7

    # deterministic: identical results on a second run
    again = {(r["query_id"], r["vec_id"]) for r in S.ivf_ann_topk(
        df, queries, k=5, num_centroids=8, nprobe=3).collect()}
    assert {(r["query_id"], r["vec_id"]) for r in got} == again


def test_pq_ann_recall_and_determinism(spark, vectors):
    df, dim = vectors
    queries = df.filter(F.col("vec_id") < 5)
    exact = S.brute_force_topk(df, queries, k=5).collect()
    got = S.pq_ann_topk(
        df, queries, dim=dim, k=5, num_subspaces=4
    ).collect()
    exact_sets, got_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in got:
        got_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(exact_sets[q] & got_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # 16 codes over 4 subspaces on 8-cluster data: ADC ranking recovers
    # most true neighbors despite 4-int compression of 16 floats
    assert sum(recalls) / len(recalls) >= 0.7, recalls

    again = {
        (r["query_id"], r["vec_id"])
        for r in S.pq_ann_topk(
            df, queries, dim=dim, k=5, num_subspaces=4
        ).collect()
    }
    assert {(r["query_id"], r["vec_id"]) for r in got} == again


def test_pq_train_shapes_and_validation(spark, vectors):
    df, dim = vectors
    books = S.pq_train(df, dim=dim, num_subspaces=4, codes_per_subspace=8)
    assert books.shape == (4, 8, dim // 4)
    with pytest.raises(ValueError):
        S.pq_train(df, dim=dim, num_subspaces=5)


def test_embedding_near_dup_exactint_matches_python(spark, vectors):
    """Exact-integer near-dup (VERDICT r6 item 1): every output value
    must equal a plain-Python integer recomputation of the same
    pipeline — quantize, int-LSH buckets, sqrt-free threshold — bit for
    bit (the property the DuckDB oracle relies on)."""
    df, dim = vectors
    tp, planes, tabs, qs, ps = 990_000, 6, 4, 100_000, 10_000
    got = {
        (r["id_a"], r["id_b"]): (r["dot_q"], r["na2"], r["nb2"])
        for r in S.embedding_near_dup_pairs_exactint(
            df, dim=dim, threshold_ppm=tp, num_planes=planes,
            num_tables=tabs, quant_scale=qs, plane_scale=ps,
            max_bucket_size=None,
        ).collect()
    }
    rows = {r["vec_id"]: r["embedding"] for r in df.collect()}
    q = {
        i: [math.floor(x * qs) for x in v] for i, v in rows.items()
    }
    cands = set()
    for t in range(tabs):
        P = S.quantized_hyperplanes(dim, planes, 42 + 1000 * t, ps)
        from collections import defaultdict

        buckets = defaultdict(list)
        for i, vq in q.items():
            b = sum(
                (1 << j)
                for j, p in enumerate(P)
                if sum(a * h for a, h in zip(vq, p)) >= 0
            )
            buckets[b].append(i)
        for members in buckets.values():
            members = sorted(members)
            for ai in range(len(members)):
                for bi in range(ai + 1, len(members)):
                    cands.add((members[ai], members[bi]))
    want = {}
    for a, b in cands:
        dot = sum(x * y for x, y in zip(q[a], q[b]))
        na2 = sum(x * x for x in q[a])
        nb2 = sum(y * y for y in q[b])
        if dot > 0 and dot * dot * 10**12 >= tp * tp * na2 * nb2:
            want[(a, b)] = (dot, na2, nb2)
    assert got == want and (0, 100) in got  # planted near-copy found


def test_embedding_near_dup_exactint_cap_is_inert_here(spark, vectors):
    """The production bucket cap (leader-edge fallback) must be a no-op
    on a corpus whose buckets sit under the cap — pins that the ORACLED
    uncapped registry entry and the capped production default agree
    (the oracle disables the cap only because leader edges aren't
    SQL-expressible)."""
    df, dim = vectors
    kw = dict(
        dim=dim, threshold_ppm=990_000, num_planes=6, quant_scale=100_000
    )
    capped = {
        (r["id_a"], r["id_b"])
        for r in S.embedding_near_dup_pairs_exactint(
            df, max_bucket_size=1000, **kw
        ).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in S.embedding_near_dup_pairs_exactint(
            df, max_bucket_size=None, **kw
        ).collect()
    }
    assert capped == uncapped and len(capped) > 0


def test_assets_schema_and_feature_extraction(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "spark at scale"), (3, "")],
        ["doc_id", "text"],
    )
    assets = M.assets_from_documents(docs)
    assert set(assets.columns) == {
        "asset_id", "media_type", "payload", "width", "height", "duration_ms",
    }
    feats = M.extract_features(assets, dim=8).collect()
    assert len(feats) == 3
    by_id = {r["asset_id"]: r for r in feats}
    assert by_id[1]["payload_bytes"] == len(b"hello world")
    assert len(by_id[1]["feature"]) == 8
    assert abs(sum(by_id[1]["feature"]) - 1.0) < 1e-6  # L1 normalized
    assert sum(by_id[3]["feature"]) == 0.0  # empty payload

    # re-running yields identical features (deterministic kernel)
    again = {r["asset_id"]: r["feature"] for r in M.extract_features(assets, dim=8).collect()}
    assert again[1] == by_id[1]["feature"]


def test_resize_assets_spatial_only(spark):
    docs = spark.createDataFrame(
        [(0, "an image doc"), (1, "an audio doc"), (2, "a video doc"), (3, "")],
        ["doc_id", "text"],
    )
    assets = M.assets_from_documents(docs)
    resized = {r["asset_id"]: r for r in M.resize_assets(assets, 8, 4).collect()}
    # doc 0 -> image, 1 -> audio, 2 -> video, 3 -> image (doc_id % 3)
    for aid in (0, 2, 3):
        assert resized[aid]["width"] == 8 and resized[aid]["height"] == 4
        assert len(resized[aid]["payload"]) == 32  # exactly w*h bytes
    # audio passes through untouched
    assert resized[1]["payload"] == bytes("an audio doc", "utf-8")
    assert resized[1]["width"] != 8 or resized[1]["height"] != 4


def test_sample_frames_fanout_and_bytes(spark):
    docs = spark.createDataFrame(
        [(2, "0123456789abcdef"), (5, "xyz"), (8, ""), (1, "not a video")],
        ["doc_id", "text"],
    )
    assets = M.assets_from_documents(docs)
    frames = M.sample_frames(assets).collect()
    by_asset = {}
    for r in frames:
        by_asset.setdefault(r["asset_id"], []).append(r)
    # only video assets (doc_id % 3 == 2) produce frames
    assert set(by_asset) == {2, 5, 8}
    assert all(len(v) == 4 for v in by_asset.values())
    # 16-byte payload → 4 frames of 4 bytes, reassembling the payload
    f2 = sorted(by_asset[2], key=lambda r: r["frame_index"])
    assert b"".join(r["frame_payload"] for r in f2) == b"0123456789abcdef"
    # 3-byte payload → slices of 1,1,1,0 bytes
    assert sorted(len(r["frame_payload"]) for r in by_asset[5]) == [0, 1, 1, 1]
    # empty payload → 4 empty frames
    assert all(len(r["frame_payload"]) == 0 for r in by_asset[8])


def test_payload_stats_prunes_payload_column(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(9)], ["doc_id", "text"]
    )
    path = str(tmp_path / "assets.parquet")
    M.assets_from_documents(docs).write.parquet(path)
    assets = spark.read.parquet(path)
    stats = M.payload_stats(assets)
    assert stats.count() == 3  # image/audio/video
    total = sum(r["asset_count"] for r in stats.collect())
    assert total == 9


def test_ann_topk_exactint_matches_python(spark, vectors):
    """Exact-int ANN ranking: output equals a plain-Python recomputation
    of the whole pipeline (quantize → int buckets → exact dots → cosine
    as two correctly-rounded IEEE ops → sort) — the property the oracle
    relies on; and the planted near-copy of vec 0 ranks at the top of
    its query."""
    df, dim = vectors
    qs_, ps = 100_000, 10_000
    planes_n, tabs = 6, 4
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine_e6"])
        for r in S.ann_topk_exactint(
            df, df.filter(F.col("vec_id") < 2), dim=dim, k=5,
            num_planes=planes_n, num_tables=tabs,
            quant_scale=qs_, plane_scale=ps,
        ).collect()
    }
    rows = {r["vec_id"]: r["embedding"] for r in df.collect()}
    q = {i: [math.floor(x * qs_) for x in v] for i, v in rows.items()}
    buckets = {}
    for t in range(tabs):
        P = S.quantized_hyperplanes(dim, planes_n, 42 + 1000 * t, ps)
        for i, vq in q.items():
            b = sum(
                (1 << j)
                for j, p in enumerate(P)
                if sum(a * h for a, h in zip(vq, p)) >= 0
            )
            buckets.setdefault((t, b), []).append(i)
    want = {}
    for qid in (0, 1):
        cands = set()
        for t in range(tabs):
            P = S.quantized_hyperplanes(dim, planes_n, 42 + 1000 * t, ps)
            b = sum(
                (1 << j)
                for j, p in enumerate(P)
                if sum(a * h for a, h in zip(q[qid], p)) >= 0
            )
            cands.update(buckets.get((t, b), []))
        scored = []
        for c in cands:
            dot = sum(x * y for x, y in zip(q[c], q[qid]))
            na2 = sum(x * x for x in q[c])
            nb2 = sum(y * y for y in q[qid])
            if na2 > 0 and nb2 > 0:
                cos = float(dot) / math.sqrt(float(na2) * float(nb2))
                scored.append((-cos, c))
        for rank, (negcos, c) in enumerate(sorted(scored), start=1):
            if rank <= 5:
                want[(qid, rank)] = (c, math.floor(-negcos * 1_000_000))
    assert got == want
    assert got[(0, 1)][0] == 0          # self-match leads
    assert got[(0, 2)][0] == 100        # the planted near-copy is next


# ---------------------------------------------- perceptual-hash near-dup

def _py_dhash(payload: bytes) -> tuple[int, int]:
    """Independent reference: bit i = byte[i] < byte[i+1], packed into
    (lo: bits 0-31, hi: bits 32-63)."""
    lo = hi = 0
    for i in range(64):
        if payload[i] < payload[i + 1]:
            if i < 32:
                lo |= 1 << i
            else:
                hi |= 1 << (i - 32)
    return lo, hi


def test_phash_hashes_match_python_reference(spark):
    import random

    from big_data_validator_spark.operators.multimodal import phash_hashes

    rng = random.Random(7)
    rows = [
        (i, bytes(rng.randrange(256) for _ in range(65 + i % 20)))
        for i in range(40)
    ] + [(99, b"short")]  # < 65 bytes: silently excluded, not an error
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    got = {
        r["id"]: (r["lo"], r["hi"]) for r in phash_hashes(df).collect()
    }
    assert 99 not in got and len(got) == 40
    for i, p in rows[:-1]:
        assert got[i] == _py_dhash(p), i


def test_phash_banding_lossless_and_verdict_exact(spark):
    """Pigeonhole pin: Hamming ≤ 3 over 4 × 16-bit bands guarantees a
    shared band, so the banded join must equal the brute-force pair set
    — including EXCLUDING a planted pair at Hamming 4 that still shares
    a band (candidate generated, verdict must kill it)."""
    import itertools
    import random

    from big_data_validator_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    rng = random.Random(13)
    base = bytes(rng.randrange(256) for _ in range(70))

    def flip_bit(payload: bytes, bit: int) -> bytes:
        # flip dhash bit `bit` by swapping the byte pair's order
        b = bytearray(payload)
        b[bit], b[bit + 1] = b[bit + 1], b[bit], 
        return bytes(b)

    rows = [(0, base)]
    # 1: hamming 1 from 0 (bit 5 flipped via byte swap, if it changes)
    p1 = flip_bit(base, 5)
    rows.append((1, p1))
    # 2: hamming 4 from 0 — bits 3, 20, 40, 60 (one per band) flipped
    p2 = base
    for bit in (3, 20, 40, 60):
        p2 = flip_bit(p2, bit)
    rows.append((2, p2))
    # noise assets
    rows += [
        (10 + k, bytes(rng.randrange(256) for _ in range(70)))
        for k in range(12)
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    got = {
        (r["asset_a"], r["asset_b"]): r["hamming"]
        for r in phash_near_dup_pairs(df, max_hamming=3).collect()
    }
    # brute force over the python reference hashes
    hs = {i: _py_dhash(p) for i, p in rows}
    want = {}
    for x, y in itertools.combinations(sorted(hs), 2):
        d = bin(hs[x][0] ^ hs[y][0]).count("1") + bin(
            hs[x][1] ^ hs[y][1]
        ).count("1")
        if d <= 3:
            want[(x, y)] = d
    assert got == want
    # the test corpus is live: the near pair is found, the planted
    # hamming-4 pair exists and is excluded
    d02 = bin(hs[0][0] ^ hs[2][0]).count("1") + bin(
        hs[0][1] ^ hs[2][1]
    ).count("1")
    assert (0, 1) in got and d02 > 3 and (0, 2) not in got


def _payload_for_bits(bits: int) -> bytes:
    """65-byte payload whose dHash is exactly `bits` (bit i = byte i <
    byte i+1): walk up for a 1-bit, down for a 0-bit, from 128."""
    out = [128]
    for i in range(64):
        out.append(out[-1] + (1 if (bits >> i) & 1 else -1))
    assert all(0 <= b <= 255 for b in out)
    return bytes(out)


def test_phash_banding_lossless_at_nondefault_threshold(spark):
    """ADVICE-r10 regression: with ceil-width bands, max_hamming=8 made
    9 bands of width 8 where band 8 was a PHANTOM (bits 65+, value
    NULL) — a pair differing by exactly 8 bits, one per real band,
    shared no band and was silently missed.  Balanced boundaries
    (band b = bits [b*64//n_bands, (b+1)*64//n_bands)) keep every band
    non-empty, so the pigeonhole guarantee holds at EVERY threshold.
    Pin banded == brute force at max_hamming=8 including the
    adversarial one-bit-per-old-band pair."""
    import itertools
    import random

    from big_data_validator_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    rng = random.Random(29)
    h0 = rng.getrandbits(64)
    # flip exactly one bit in each of the OLD scheme's 8 real
    # width-8 bands: under the old layout the pair agreed only on the
    # phantom band and was dropped; balanced bands must find it.
    adversarial = 0
    for b in range(8):
        adversarial |= 1 << (8 * b + 1)
    h1 = h0 ^ adversarial
    rows = [(0, _payload_for_bits(h0)), (1, _payload_for_bits(h1))]
    rows += [
        (10 + k, _payload_for_bits(rng.getrandbits(64))) for k in range(20)
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    got = {
        (r["asset_a"], r["asset_b"]): r["hamming"]
        for r in phash_near_dup_pairs(df, max_hamming=8).collect()
    }
    hs = {i: _py_dhash(p) for i, p in rows}
    assert hs[0][0] ^ hs[1][0] == adversarial & 0xFFFFFFFF
    want = {}
    for x, y in itertools.combinations(sorted(hs), 2):
        d = bin(hs[x][0] ^ hs[y][0]).count("1") + bin(
            hs[x][1] ^ hs[y][1]
        ).count("1")
        if d <= 8:
            want[(x, y)] = d
    assert got == want
    assert got[(0, 1)] == 8


def test_phash_max_hamming_bounds(spark):
    from big_data_validator_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [(1, bytes(range(65)))], "asset_id long, payload binary"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_hamming"):
        phash_near_dup_pairs(df, max_hamming=17)


# -------------------------------------------------------------- RRF fusion

def test_rrf_fuse_hand_example(spark):
    from big_data_validator_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        ["query_id", "vec_id", "rank_a"],
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 10, 2), (1, 13, 3)],
        ["query_id", "vec_id", "rank_b"],
    )
    rows = {
        r["vec_id"]: r
        for r in rrf_fuse(a, b, k=10).collect()
    }
    # doc 11: 1/62 + 1/61 ; doc 10: 1/61 + 1/62 → tie broken by id
    assert rows[10]["fused_rank"] == 1
    assert rows[11]["fused_rank"] == 2
    assert rows[10]["rrf_score"] == rows[11]["rrf_score"]
    # single-list members carry a NULL rank on the absent side
    assert rows[12]["rank_b"] is None
    assert rows[13]["rank_a"] is None
    assert rows[12]["rrf_score"] == round(1 / 63, 6)


def test_rrf_fuse_respects_k(spark):
    from big_data_validator_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, i, i) for i in range(1, 30)], ["query_id", "vec_id", "rank_a"]
    )
    b = spark.createDataFrame(
        [(1, i, i) for i in range(1, 30)], ["query_id", "vec_id", "rank_b"]
    )
    out = rrf_fuse(a, b, k=5).collect()
    assert len(out) == 5
    assert sorted(r["fused_rank"] for r in out) == [1, 2, 3, 4, 5]


def test_hybrid_rrf_finds_lexical_match_dense_misses(spark):
    from big_data_validator_spark.operators.similarity import (
        hybrid_lexical_dense_rrf,
    )

    # doc 0 is the query.  doc 1 shares its text verbatim (lexical hit)
    # but has an orthogonal embedding; doc 2 has the closest embedding
    # but unrelated text.  Fusion must surface BOTH above doc 3.
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "completely different words here entirely"),
            (3, "nothing shared with anything else at all"),
        ],
        ["doc_id", "text"],
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 0.0, 1.0]),
        ],
        ["vec_id", "embedding"],
    )
    rows = {
        r["vec_id"]: r
        for r in hybrid_lexical_dense_rrf(
            docs, emb, lambda c: c < 1, dense_top_m=100, k=3
        ).collect()
    }
    assert rows[1]["rank_lex"] == 1
    assert rows[2]["rank_dense"] == 1
    assert rows[1]["fused_rank"] <= 2 and rows[2]["fused_rank"] <= 2
    assert rows[3]["fused_rank"] == 3


def test_hybrid_rrf_bounded_dense_matches_full_at_cutoff(spark):
    """The dense_top_m=100 truncation (the scale path: |queries|·M
    downstream rows, not |queries|·|corpus|) loses nothing at the fused
    cutoff — same members, same order, same scores for every candidate
    the bounded dense list still covers — on a corpus LARGER than the
    bound, so the truncation is real.  dense_top_m=150 (the corpus
    size) is the exact full ranking."""
    from big_data_validator_spark.operators.similarity import (
        hybrid_lexical_dense_rrf,
    )
    import random

    rng = random.Random(97)
    # 150 docs: 3 text families of 5 docs each (lexical signal) whose
    # embeddings CLUSTER around a family base vector — duplicated text
    # with near-duplicate embeddings, the correlated-signal shape real
    # hybrid corpora have.  Every lexical candidate is then inside the
    # dense top-M, and no dense-only candidate past rank M can reach
    # the fused top-k (its score < 1/(60+M) while k dense candidates
    # already score >= 1/(60+k)), so bounded == full EXACTLY at the
    # cutoff.  (With anti-correlated signals — a lexical twin whose
    # embedding ranks past M — truncated-list RRF diverges by design:
    # that is the documented missing-member convention.)
    fam = {
        0: "alpha beta gamma delta epsilon zeta eta theta",
        1: "one two three four five six seven eight nine",
        2: "red orange yellow green blue indigo violet shade",
    }
    base = {
        f: [rng.gauss(0, 1) for _ in range(8)] for f in range(3)
    }
    docs = spark.createDataFrame(
        [
            (
                i,
                fam[i % 3]
                if i < 15
                else f"unique{i}filler{i * 7919}text{i * 104729}end",
            )
            for i in range(150)
        ],
        ["doc_id", "text"],
    )
    emb = spark.createDataFrame(
        [
            (
                i,
                [
                    base[i % 3][d] + rng.gauss(0, 0.01)
                    for d in range(8)
                ]
                if i < 15
                else [rng.gauss(0, 1) for _ in range(8)],
            )
            for i in range(150)
        ],
        ["vec_id", "embedding"],
    )

    def fused(m):
        return [
            (r["query_id"], r["vec_id"], r["fused_rank"], r["rrf_score"],
             r["rank_dense"])
            for r in hybrid_lexical_dense_rrf(
                docs, emb, lambda c: c < 2, k=10, dense_top_m=m
            )
            .orderBy("query_id", "fused_rank")
            .collect()
        ]

    bounded = fused(100)  # 100 < corpus size
    full = fused(150)  # the whole corpus: exact full ranking
    assert bounded == full


# -------------------------------------------------- k-center coreset

def test_kcenter_matches_python_greedy_and_radius_monotone(spark):
    """Selection sequence == a from-scratch Gonzalez greedy with the
    same quantization and id tie-break; coverage radius non-increasing;
    k guard raises."""
    import random

    import pytest

    from big_data_validator_spark.operators.similarity import (
        kcenter_coreset,
    )

    rng = random.Random(43)
    vecs = {i: [rng.uniform(-2, 2) for _ in range(6)] for i in range(80)}
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], ["vec_id", "embedding"]
    )
    k = 5
    got = [
        (r["center_rank"], r["vec_id"], r["radius2"])
        for r in kcenter_coreset(emb, k=k, dim=6, quant_scale=1000)
        .orderBy("center_rank")
        .collect()
    ]

    import math

    qv = {
        i: [math.floor(x * 1000) for x in v] for i, v in vecs.items()
    }

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    centers = [min(qv)]
    want = [(0, centers[0], None)]
    for rank in range(1, k):
        best = max(
            ((min(d2(qv[i], qv[c]) for c in centers), -i), i)
            for i in qv
        )[1]
        want.append(
            (rank, best, min(d2(qv[best], qv[c]) for c in centers))
        )
        centers.append(best)
    assert got == want
    radii = [r for _, _, r in got[1:]]
    assert radii == sorted(radii, reverse=True)  # non-increasing cover
    with pytest.raises(ValueError, match=">= 1"):
        kcenter_coreset(emb, k=0, dim=6)


def test_kcenter_empty_input_and_measured_overflow_guard(spark):
    """ADVICE r12: empty input raises a clear error (not an opaque
    TypeError from a None seed row), and the int64 overflow guard
    checks the MEASURED max |quantized component| — large components
    that the old hardcoded |x|<=5 assumption missed now raise."""
    import pytest

    from big_data_validator_spark.operators.similarity import (
        kcenter_coreset,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        kcenter_coreset(empty, k=3, dim=4)

    # |x| = 1e5 at quant_scale=1e5 -> quantized 1e10; dim*(2e10)^2
    # = 1.6e21 >> 2^62: must raise, where the old guard stayed quiet.
    big = spark.createDataFrame(
        [(0, [1e5, 0.0, 0.0, 0.0]), (1, [-1e5, 0.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    with pytest.raises(ValueError, match="overflows"):
        kcenter_coreset(big, k=2, dim=4, quant_scale=100_000)


# ------------------------------------------------------- SQ8 recall

def test_sq8_lossless_grid_gives_perfect_recall(spark):
    """On the one configuration where the symmetric int8 dot IS the
    float dot — integer coordinates 0..255 with both range endpoints
    present in every dimension (lo=0, hi=255, scale=1, so codes equal
    coordinates exactly) — recall@k must be 1.0 for every query.
    (With per-dim affine offsets the int-code dot is NOT
    rank-equivalent to the float dot even when codes are exact; that
    geometry loss is precisely what the audit measures.)"""
    from big_data_validator_spark.operators.similarity import sq8_recall
    import random

    rng = random.Random(5)
    rows = [
        (i, [float(rng.randrange(0, 256)) for _ in range(6)])
        for i in range(48)
    ]
    rows.append((48, [0.0] * 6))    # anchor lo = 0 in every dim
    rows.append((49, [255.0] * 6))  # anchor hi = 255 in every dim
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sq8_recall(emb, emb.filter(F.col("vec_id") < 3), dim=6, k=5).collect()
    assert len(out) == 3
    assert all(r["recall"] == 1.0 for r in out)


def test_sq8_degrades_under_coarse_quantization_and_guards(spark):
    """With signal packed into a range tiny relative to a huge
    outlier-stretched min/max span, whole clusters collapse onto one
    int8 code and recall must drop below 1 — the audit MEASURES loss,
    not vacuously reports success.  Also pins the dim guard."""
    from big_data_validator_spark.operators.similarity import sq8_recall
    import random

    import pytest

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(0, 0.001) for _ in range(4)]) for i in range(40)
    ]
    rows.append((40, [1000.0, 1000.0, 1000.0, 1000.0]))  # span stretcher
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sq8_recall(emb, emb.filter(F.col("vec_id") < 2), dim=4, k=5).collect()
    assert any(r["recall"] < 1.0 for r in out)
    with pytest.raises(ValueError, match="positive"):
        sq8_recall(emb, emb.filter(F.col("vec_id") < 2), dim=0)


# ------------------------------------------------- matryoshka recall

def test_matryoshka_full_prefix_is_perfect_recall(spark):
    from big_data_validator_spark.operators.similarity import (
        matryoshka_recall,
    )
    import random

    rng = random.Random(21)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(60)],
        ["vec_id", "embedding"],
    )
    out = matryoshka_recall(
        emb, emb.filter(F.col("vec_id") < 3), prefix_dims=[16], k=5
    ).collect()
    # prefix == full dimension -> identical ranking -> recall 1.0
    assert all(r["recall"] == 1.0 for r in out)
    assert len(out) == 3


def test_matryoshka_informative_prefix_beats_noise_prefix(spark):
    from big_data_validator_spark.operators.similarity import (
        matryoshka_recall,
    )
    import random

    rng = random.Random(23)
    # signal lives in the FIRST 4 dims; dims 5-16 are tiny noise, so
    # the 4-dim prefix nearly reproduces the full ranking while a
    # hypothetical noise-only prefix could not
    emb = spark.createDataFrame(
        [
            (
                i,
                [rng.gauss(0, 1) for _ in range(4)]
                + [rng.gauss(0, 0.01) for _ in range(12)],
            )
            for i in range(80)
        ],
        ["vec_id", "embedding"],
    )
    out = {
        (r["prefix_dim"], r["query_id"]): r["recall"]
        for r in matryoshka_recall(
            emb, emb.filter(F.col("vec_id") < 3), prefix_dims=[4], k=8
        ).collect()
    }
    avg = sum(out.values()) / len(out)
    assert avg >= 0.75  # dominant-prefix recall stays high
