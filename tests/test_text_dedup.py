from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_validator_spark.operators import dedup as D
from big_data_validator_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (3, "The quick brown fox jumps over the lazy dog!"),  # normalized dup of 1
        (4, "the quick brown fox leaps over the lazy dog"),   # near dup (1 word)
        (5, "completely different content about spark engines"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_count(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("  ",), ("one",)], ["text"]
    )
    got = [r[0] for r in df.select(T.token_count(F.col("text"))).collect()]
    assert got == [3, 0, 0, 1]


def test_char_ngrams(spark):
    df = spark.createDataFrame([("abcd",), ("ab",)], ["text"])
    got = [r[0] for r in df.select(T.char_ngrams(F.col("text"), 3)).collect()]
    assert got == [["abc", "bcd"], ["ab"]]


def test_fingerprint_normalizes(spark, docs):
    fp = docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp")).collect()
    by_id = {r["doc_id"]: r["fp"] for r in fp}
    assert by_id[1] == by_id[2] == by_id[3]  # case/punct-insensitive
    assert by_id[1] != by_id[4]


def test_lang_guess_markers(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog of the house",),
            ("le chat est la maison des gens",),
            ("el gato por las casas una vez",),
            ("der hund und die katze ist das",),
            ("xyzzy qwerty",),
        ],
        ["text"],
    )
    got = [r[0] for r in df.select(T.lang_guess(F.col("text"))).collect()]
    assert got == ["en", "fr", "es", "de", "unknown"]


def test_quality_score_ranges(spark, docs):
    rows = docs.select(T.quality_score(F.col("text")).alias("q")).collect()
    assert all(0.0 <= r["q"] <= 1.0 for r in rows)


def test_exact_dedup(spark, docs):
    groups = D.exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["dup_count"] == 3
    assert groups[0]["keep_id"] == 1


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # exact dups have jaccard 1.0; the one-word edit is above 0.5
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert (1, 4) in got
    assert not any(5 in p or 6 in p for p in got)


def test_minhash_lsh_recall_vs_exact(spark, docs):
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_dedup_pairs(docs, threshold=0.8).collect()
    }
    # banded MinHash (r=4, b=16, t≈0.5) must recover all >0.8 pairs here
    assert lsh == exact


def test_winnowing_matches_python_reference(spark, docs):
    got = {
        r["id"]: list(r["fingerprints"])
        for r in D.winnowing_fingerprints(docs).collect()
    }
    for doc_id, text in [(r["doc_id"], r["text"]) for r in docs.collect()]:
        assert got[doc_id] == D.winnow_py(text), f"doc {doc_id}"


def test_winnowing_rolling_equals_horner():
    # the pure-python rolling recurrence must agree with itself on a text
    # long enough to roll many times, and with hand-computed k-gram hashes
    text = "the quick brown fox jumps over the lazy dog" * 3
    fps = D.winnow_py(text, k=5, window=4)
    assert fps == sorted(set(fps))
    assert len(fps) > 5
    # density guarantee: winnowed sketch is a small fraction of all k-grams
    assert len(fps) <= (len(text) - 4) * 2 // 5 + 2


def test_winnowing_near_dup_pairs(spark, docs):
    # short fixture docs → short grams/window so every doc has a sketch
    pairs = D.winnowing_near_dup_pairs(
        docs, k=5, window=4, min_common=5
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["overlap"] for r in pairs}
    # identical texts share every fingerprint
    assert got[(1, 2)] == 1.0
    # the one-word edit shares most fingerprints
    assert (1, 4) in got and got[(1, 4)] > 0.5
    assert not any(5 in p or 6 in p for p in got)


def test_simhash_near_dups(spark, docs):
    pairs = D.simhash_near_dup_pairs(docs, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # docs 1,2 tokenize identically (distance 0); 3 normalizes the same
    assert (1, 2) in got and (1, 3) in got
    assert not any(5 in p for p in got)


def test_simhash_signature_is_stable(spark, docs):
    s1 = {r["id"]: r["simhash"] for r in D.simhash_signatures(docs).collect()}
    s2 = {r["id"]: r["simhash"] for r in D.simhash_signatures(docs).collect()}
    assert s1 == s2
    assert s1[1] == s1[2]  # identical text → identical signature


def test_degenerate_corpus_bucket_cap_bounds_candidates(spark):
    """The LSH skew guard: 5k byte-identical documents collapse into ONE
    band bucket (and one simhash chunk bucket) per table — uncapped that is
    ~12.5M candidate pairs per band.  With the cap, oversized buckets emit
    leader edges only: exactly n-1 candidates, every pair anchored at the
    minimum id, and the dedup cluster stays fully connected through the
    leader."""
    n = 5000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same identical document body repeated verbatim").alias(
            "text"
        ),
    )

    cands = D.minhash_lsh_candidates(docs, max_bucket_size=100)
    rows = cands.collect()
    assert len(rows) == n - 1
    assert all(r["id_a"] == 0 for r in rows)  # leader = min doc_id
    assert {r["id_b"] for r in rows} == set(range(1, n))

    verified = D.minhash_dedup_pairs(docs, max_bucket_size=100)
    vrows = verified.collect()
    assert len(vrows) == n - 1
    assert all(r["jaccard"] == 1.0 for r in vrows)

    sim = D.simhash_near_dup_pairs(docs, max_bucket_size=100)
    srows = sim.collect()
    assert len(srows) == n - 1
    assert all(r["hamming"] == 0 and r["id_a"] == 0 for r in srows)


def test_bucket_cap_no_op_below_threshold(spark, docs):
    """Small buckets keep exact all-pairs semantics: capped and uncapped
    runs agree on the fixture corpus."""
    capped = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_dedup_pairs(docs, max_bucket_size=1000).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_dedup_pairs(docs, max_bucket_size=None).collect()
    }
    assert capped == uncapped


@pytest.mark.parametrize("limit", [1_000_000, None])
def test_duplicate_clusters_transitive_closure(spark, limit):
    """A 4-chain needs label propagation across diameter 3; disjoint
    components keep separate labels.  Runs both regimes: the bounded
    driver union-find (default limit) and the distributed loop
    (limit=None)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in D.duplicate_clusters(pairs, driver_edge_limit=limit).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_pinned_cache_handle_propagates_and_releases(spark):
    """The capped path's narrow cache is reachable (and releasable) from
    the frames the public pair functions return (ADVICE r3)."""
    docs = spark.createDataFrame(
        [(i, f"some shared text body {i % 3}") for i in range(30)],
        ["doc_id", "text"],
    )
    pairs = D.minhash_lsh_candidates(docs)
    pinned = D.pinned_caches(pairs)
    assert pinned
    pairs.count()
    for c in pinned:
        assert c.storageLevel.useMemory  # cached while the plan lives
    D.release_pinned(pairs)
    for c in pinned:
        assert not c.storageLevel.useMemory


def test_registry_dedup_entries_leave_no_pinned_caches(spark):
    """The oracle-checked entry points must not leak pinned caches into a
    long driver session (ADVICE r4): after each returns, the JVM's
    persistent-RDD registry is back to its starting size."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    queries = E.queries()
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for name in (
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_winnowing",
        "dedup_ngram_jaccard",
        "dedup_minhash_clusters",
        "emb_near_dup_pairs",
    ):
        out = queries[name](spark, sf)
        out.count()
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert after <= before, f"{name} leaked {after - before} pinned cache(s)"


def test_duplicate_clusters_regimes_agree(spark):
    """Union-find and distributed propagation must label identically:
    chains (worst diameter), a star, a cycle, reversed-order edges, and
    a merge-through-shared-minimum case."""
    edges = (
        [(i, i + 1) for i in range(0, 20)]          # 21-chain
        + [(50, j) for j in range(51, 60)]          # star at 50
        + [(70, 71), (71, 72), (72, 70)]            # cycle
        + [(81, 80), (82, 81)]                      # reversed order
        + [(90, 95), (91, 95)]                      # merge via shared max
    )
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    fast = {
        r["id"]: r["cluster_id"]
        for r in D.duplicate_clusters(pairs).collect()
    }
    dist = {
        r["id"]: r["cluster_id"]
        for r in D.duplicate_clusters(pairs, driver_edge_limit=None).collect()
    }
    assert fast == dist
    assert fast[20] == 0 and fast[59] == 50 and fast[95] == 90


def test_duplicate_clusters_from_leader_edges_and_keep_representatives(spark):
    """End-to-end over a degenerate corpus: capped leader edges → one
    cluster anchored at the minimum id; dropping every non-representative
    member leaves exactly one row of the duplicate set plus all uniques."""
    n = 200
    dup = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("identical body text").alias("text")
    )
    uniq = spark.createDataFrame(
        [(1000, "a genuinely unique document about spark plans"),
         (1001, "another singleton text mentioning catalysts")],
        ["doc_id", "text"],
    )
    corpus = dup.unionByName(uniq)
    pairs = D.minhash_dedup_pairs(corpus, max_bucket_size=50)
    clusters = D.duplicate_clusters(pairs)
    rows = clusters.collect()
    assert {r["cluster_id"] for r in rows} == {0}
    assert len(rows) == n  # every duplicate labeled, singletons absent
    losers = {r["id"] for r in rows if r["id"] != r["cluster_id"]}
    kept_ids = {r["doc_id"] for r in corpus.collect()} - losers
    assert kept_ids == {0, 1000, 1001}


def test_levenshtein_banded_equals_bruteforce(spark):
    """Length banding must be LOSSLESS for the given max_dist: the banded
    join's pair set equals a pure-Python all-pairs scan."""
    from big_data_validator_spark.operators.dedup import (
        levenshtein_pairs_banded,
    )

    vals = [
        "kitten", "sitting", "kitchen", "mitten", "mittens",
        "bolt", "bolts", "boat", "coat", "a", "ab", "abcd",
        "abcdef", None, "kitten",  # dup + null exercised
    ]
    df = spark.createDataFrame([(v,) for v in vals], "name string")

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    uniq = sorted({v for v in vals if v is not None})
    for k in (0, 1, 2, 3):
        want = sorted(
            (a, b, lev(a, b))
            for i, a in enumerate(uniq)
            for b in uniq[i + 1:]
            if lev(a, b) <= k
        )
        got = sorted(
            (r["name_a"], r["name_b"], r["dist"])
            for r in levenshtein_pairs_banded(df, "name", k).collect()
        )
        assert got == want, f"max_dist={k}"


def test_levenshtein_banded_rejects_negative(spark):
    from big_data_validator_spark.operators.dedup import (
        levenshtein_pairs_banded,
    )

    df = spark.createDataFrame([("x",)], "name string")
    with pytest.raises(ValueError):
        levenshtein_pairs_banded(df, "name", -1)


# --------------------------------------------------------------- BPE


def _bpe_reference(word, merges):
    """Textbook BPE encode (Sennrich apply_bpe): repeatedly merge the
    LOWEST-RANK adjacent pair present, all occurrences left-to-right."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    syms = list(word)
    while len(syms) > 1:
        pairs = {(syms[i], syms[i + 1]) for i in range(len(syms) - 1)}
        best = min(
            (ranks.get(p, len(merges)), p) for p in pairs
        )
        if best[0] == len(merges):
            break
        a, b = best[1]
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_matches_reference_bpe(spark):
    """The rank-ordered replace chain IS Sennrich BPE for any valid
    merge table (each rule's operands exist before the rule applies)."""
    from pyspark.sql import functions as F

    from big_data_validator_spark.operators.text import (
        BPE_DEMO_MERGES,
        bpe_encode_tokens,
    )

    words = [
        "the", "there", "another", "ingesting", "attention", "aaa",
        "x", "and", "standard", "estates", "toto", "onion", "0451",
        "thethethe", "renderer", "inning",
    ]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r["w"]: r["toks"]
        for r in df.select(
            "w", bpe_encode_tokens(F.col("w")).alias("toks")
        ).collect()
    }
    for w in words:
        assert got[w] == _bpe_reference(w, BPE_DEMO_MERGES), w
        assert "".join(got[w]) == w  # lossless segmentation


def test_bpe_encode_matches_duckdb_oracle_expr(spark):
    import duckdb
    from pyspark.sql import functions as F

    from big_data_validator_spark.operators.text import (
        bpe_encode_tokens,
        bpe_oracle_sql_expr,
    )

    words = ["the", "another", "ingesting", "attention", "0451", "z"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r["w"]: r["toks"]
        for r in df.select(
            "w", bpe_encode_tokens(F.col("w")).alias("toks")
        ).collect()
    }
    vals = ",".join(f"('{w}')" for w in words)
    sql = (
        f"SELECT w, {bpe_oracle_sql_expr('w')} AS toks "
        f"FROM (VALUES {vals}) t(w)"
    )
    want = dict(duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_bpe_vocab_covers_every_emitted_symbol(spark):
    """Every post-merge symbol is either a base char or a merged rank —
    no OOV possible for [a-z0-9]+ input."""
    from pyspark.sql import functions as F

    from big_data_validator_spark.operators.text import (
        bpe_encode_tokens,
        bpe_vocab,
        word_tokens,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = (
        docs.select(F.explode(word_tokens(F.col("text"))).alias("w"))
        .select(F.explode(bpe_encode_tokens(F.col("w"))).alias("t"))
        .distinct()
    )
    vocab = bpe_vocab()
    missing = [r["t"] for r in toks.collect() if r["t"] not in vocab]
    assert missing == []


@pytest.mark.slow
def test_two_phase_cc_beats_diameter_on_adversarial_chain(spark):
    """VERDICT r6 item 4: the distributed regime is now two-phase
    large-star/small-star (Kiveris et al.), which converges in O(log² n)
    rounds regardless of diameter.  A 10k-node CHAIN — the adversarial
    case where plain min-label propagation needs ~10k rounds — must
    label identically to the driver union-find within the default
    max_iter=20 round budget (plain propagation capped at 20 rounds
    would leave labels thousands of hops from the minimum)."""
    n = 10_000
    # shuffled ids so the chain isn't accidentally presorted
    ids = [(i * 7919) % n for i in range(n)]  # 7919 prime, bijective mod n
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], ["id_a", "id_b"]
    )
    dist = {
        r["id"]: r["cluster_id"]
        for r in D.duplicate_clusters(
            pairs, driver_edge_limit=None, max_iter=20
        ).collect()
    }
    want = {
        r["id"]: r["cluster_id"]
        for r in D.duplicate_clusters(pairs).collect()  # driver union-find
    }
    assert dist == want
    assert set(dist.values()) == {0} and len(dist) == n


def test_bpe_learn_matches_textbook(spark):
    """bpe_learn_merges == the textbook Sennrich learn loop (overlapping
    pair counts, left-to-right non-overlapping merge application,
    count-desc/pair-lexicographic ties) on a corpus with planted
    frequency structure."""
    from collections import Counter

    from big_data_validator_spark.operators.text import bpe_learn_merges

    words = ["lower"] * 5 + ["lowest"] * 4 + ["newer"] * 6 + ["wider"] * 3 + ["aaa"] * 2
    wc = Counter(words)
    df = spark.createDataFrame(list(wc.items()), ["w", "_n"])
    got = bpe_learn_merges(df, num_merges=6)

    vocab = {tuple(w): c for w, c in wc.items()}
    want = []
    for rank in range(6):
        stats = Counter()
        for syms, c in vocab.items():
            for j in range(len(syms) - 1):
                stats[(syms[j], syms[j + 1])] += c
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), n = best
        want.append((rank, a, b, n))
        nv: dict = {}
        for syms, c in vocab.items():
            out, j = [], 0
            while j < len(syms):
                if j < len(syms) - 1 and syms[j] == a and syms[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    assert got == want


# ------------------------------------------- exact set-similarity join

def _brute_jaccard_pairs(rows, n, t_e6):
    """Reference implementation: all-pairs exact word-n-gram Jaccard."""
    import itertools

    sets = {}
    for did, text in rows:
        ws = [w for w in text.lower().split(" ") if w]
        sets[did] = (
            frozenset(
                "_".join(ws[i : i + n]) for i in range(len(ws) - n + 1)
            )
            if len(ws) >= n
            else frozenset()
        )
    out = []
    for a, b in itertools.combinations(sorted(sets), 2):
        A, B = sets[a], sets[b]
        inter = len(A & B)
        if inter and 1_000_000 * inter >= t_e6 * (len(A) + len(B) - inter):
            out.append(
                (
                    a,
                    b,
                    inter,
                    len(A),
                    len(B),
                    (1_000_000 * inter) // (len(A) + len(B) - inter),
                )
            )
    return sorted(out)


@pytest.mark.parametrize("t_e6", [300_000, 500_000, 800_000, 1_000_000])
def test_ssjoin_equals_bruteforce(spark, t_e6):
    """The prefix+length+positional filters are LOSSLESS: the joined
    pair set equals all-pairs exact Jaccard at every threshold,
    including t=1.0 (identical sets only)."""
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i j"),            # identical to 1
        (3, "a b c d e f g h i j k l"),        # superset of 1
        (4, "z y x w v u t s r q"),            # disjoint
        (5, "a b c d e f q r s t u v w x"),    # partial overlap
        (6, "m n"),                            # too short: empty set
        (7, "c d e f g h i j a b"),            # same set as 1, rotated
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        tuple(r)
        for r in D.set_similarity_join(
            df, threshold_e6=t_e6
        ).collect()
    )
    assert got == _brute_jaccard_pairs(rows, 3, t_e6)


def test_ssjoin_prefix_actually_prunes(spark):
    """The candidate generation must touch FEWER inverted-index rows
    than the full token relation: prefix length m-ceil(t*m)+1 < m for
    any set with >1 token at t=0.5.  Checked structurally: the pairs
    produced by joining FULL token lists differ from the prefix join's
    candidate count on a corpus with a universally-shared stop token
    (the stop token never enters any prefix, so the quadratic bucket
    it would create is never formed)."""
    # 40 docs, all sharing one hot trigram ("x x x"), pairwise Jaccard
    # far below threshold except one planted dup pair.
    rows = [
        (i, f"x x x u{i} v{i} w{i} p{i} q{i} r{i} s{i}")
        for i in range(40)
    ]
    rows.append((100, rows[0][1]))  # exact dup of doc 0
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = D.set_similarity_join(df, threshold_e6=500_000).collect()
    assert [(r.id_a, r.id_b, r.jacc_e6) for r in out] == [(0, 100, 1_000_000)]
    # structural: the hot token 'x_x_x' (df=41) is in NO prefix — every
    # doc's 8-shingle set has prefix length 8-4+1=5, and the five
    # rarest tokens of each doc are its unique u/v/w/p/q shingles.
    sets_df = D.word_shingle_sets(df, "text", "doc_id", 3)
    tok = sets_df.select(
        "id",
        F.size("shingles").alias("m"),
        F.explode("shingles").alias("token"),
    )
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("_df"))
    from pyspark.sql import Window

    ranked = tok.join(dfreq, "token").withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("id").orderBy("_df", "token")),
    )
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("m") - F.floor((F.lit(500_000) * F.col("m") + 499_999) / F.lit(1_000_000)) + 1
    )
    hot_in_prefix = prefix.filter(F.col("token") == "x_x_x").count()
    assert hot_in_prefix == 0


def test_ssjoin_rejects_bad_threshold(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        D.set_similarity_join(df, threshold_e6=0)
    with pytest.raises(ValueError):
        D.set_similarity_join(df, threshold_e6=1_000_001)


# ------------------------------------------- exact shared-substring dedup

def test_shared_substring_pairs_brute_force_and_cap(spark):
    """Exact verbatim-span detection: position-pair counts must equal a
    from-scratch python enumeration, and grams over the doc-frequency
    cap must vanish BEFORE pairing (the stop-fingerprint discipline)."""
    from big_data_validator_spark.operators.dedup import (
        shared_substring_pairs,
    )

    boiler = "COMMON-HEADER-" * 3  # 42 chars, present in ALL docs
    docs = [
        (1, boiler + "alpha beta gamma delta epsilon zeta eta theta"),
        (2, boiler + "alpha beta gamma delta epsilon zeta eta IOTA!"),
        (3, boiler + "completely different tail text here my friend"),
        (4, boiler + "unrelated content entirely on its own pathway"),
    ]
    L = 20

    def grams(s):
        return [s[i : i + L] for i in range(len(s) - L + 1)]

    def brute(cap):
        from collections import Counter

        cnt = {i: Counter(grams(t)) for i, t in docs}
        df_g = Counter()
        for c in cnt.values():
            for g in c:
                df_g[g] += 1
        ok = {g for g, n in df_g.items() if 2 <= n <= cap}
        out = {}
        ids = sorted(cnt)
        for x in ids:
            for y in ids:
                if x >= y:
                    continue
                shared = set(cnt[x]) & set(cnt[y]) & ok
                if shared:
                    out[(x, y)] = (
                        sum(cnt[x][g] * cnt[y][g] for g in shared),
                        len(shared),
                    )
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    for cap in (2, 4):
        got = {
            (r.doc_a, r.doc_b): (r.n_shared_positions, r.n_shared_grams)
            for r in shared_substring_pairs(
                df, gram_len=L, max_gram_docs=cap
            ).collect()
        }
        assert got == brute(cap), cap
    # cap=2: the all-doc boilerplate grams are dropped, so docs 3 and 4
    # (which share ONLY boilerplate) pair with nobody
    got2 = brute(2)
    assert not any(3 in p or 4 in p for p in got2)
    # cap=4 keeps boilerplate: every pair appears
    assert len(brute(4)) == 6
    # short docs are silently gram-free, not an error
    short = spark.createDataFrame(
        [(1, "tiny"), (2, "tiny")], "doc_id long, text string"
    )
    assert shared_substring_pairs(short, gram_len=20).count() == 0


def test_shared_substring_plan_two_shuffles_no_join(spark):
    """Plan pin (VERDICT r9 item 5): exactly two exchanges — the
    explicit gram repartition (which the (gram, doc) aggregation, the
    document-frequency window, and the per-gram collect all reuse
    exchange-free) and the pair aggregate — with pair expansion
    entirely map-side: no join, no cached relation anywhere in the
    plan.  (History: the agg+join formulation re-ran the explode
    pipeline three times — 22 text-exchanges; the window+self-join
    form needed a pinned cache and moved gram text four times.)"""
    from big_data_validator_spark.operators.dedup import (
        shared_substring_pairs,
    )
    from big_data_validator_spark.plans.inspect import shuffle_count

    df = spark.createDataFrame(
        [(i, f"some shared prefix text payload {i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    res = shared_substring_pairs(df, gram_len=10, max_gram_docs=50)
    assert shuffle_count(res) == 2, shuffle_count(res)
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert "InMemoryRelation" not in plan
    assert not getattr(res, "_bdv_pinned", None)
    # the single gram exchange feeds agg + window + collect: exactly
    # one RepartitionByExpression and no other gram-keyed exchange
    assert plan.count("RepartitionByExpression") == 1


def test_shared_substrings_gram_cap_range(spark):
    """The document-frequency cap bounds per-gram work, and a pair
    needs a gram in at least 2 documents: a cap under 2 raises, a cap
    of 2 keeps exactly the grams two documents share."""
    import pytest as _pytest

    from big_data_validator_spark.operators.dedup import (
        shared_substring_pairs,
    )

    df = spark.createDataFrame(
        [(i, "a" * 50) for i in (1, 2, 3)] + [(i, "b" * 45) for i in (4, 5)],
        "doc_id long, text string",
    )
    for cap in (1, 0, -3):
        with _pytest.raises(ValueError, match="max_gram_docs must be >= 2"):
            shared_substring_pairs(df, gram_len=40, max_gram_docs=cap)
    pairs = shared_substring_pairs(df, gram_len=40, max_gram_docs=2).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(4, 5)]
    pairs = shared_substring_pairs(df, gram_len=40, max_gram_docs=3).collect()
    assert sorted((r["doc_a"], r["doc_b"]) for r in pairs) == [
        (1, 2), (1, 3), (2, 3), (4, 5)
    ]


# ---------------------------------------------- unigram-LM tokenizer


def test_unigram_learn_matches_textbook_reference(spark):
    """Hard-EM unigram trainer == a from-scratch textbook
    implementation (seed → Viterbi segment → integer recount, char
    floor), on a corpus with real segmentation structure."""
    from big_data_validator_spark.operators.text import (
        unigram_learn_vocab,
    )

    corpus = (
        ["lowlow"] * 6 + ["lower"] * 4 + ["newest"] * 5 + ["widest"] * 3
        + ["low"] * 2 + ["est"] * 2
    )
    wc: dict[str, int] = {}
    for w in corpus:
        wc[w] = wc.get(w, 0) + 1
    df = spark.createDataFrame(list(wc.items()), "w string, _n long")
    N, L, T = 12, 3, 2
    got = unigram_learn_vocab(
        df, num_pieces=N, max_piece_len=L, em_iters=T
    )

    # -------- textbook reference, written independently
    def seed(wc):
        freq = {}
        for w, c in wc.items():
            for l in range(1, L + 1):
                for s in range(len(w) - l + 1):
                    p = w[s : s + l]
                    freq[p] = freq.get(p, 0) + c
        top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:N]
        vocab = dict(top)
        for p, f in freq.items():
            if len(p) == 1:
                vocab.setdefault(p, f)
        return vocab

    def viterbi(w, probs):
        best = [0.0] * (len(w) + 1)
        best[0] = 1.0
        back = [0] * (len(w) + 1)
        for j in range(1, len(w) + 1):
            bs, bl = -1.0, 0
            for l in range(1, min(L, j) + 1):
                p = probs.get(w[j - l : j])
                if p is None:
                    continue
                c = best[j - l] * p
                if c > bs:
                    bs, bl = c, l
            best[j], back[j] = bs, bl
        out, j = [], len(w)
        while j > 0:
            out.append(w[j - back[j] : j])
            j -= back[j]
        return out

    vocab = seed(wc)
    for _ in range(T):
        total = sum(vocab.values())
        probs = {p: c / total for p, c in vocab.items() if c > 0}
        used: dict[str, int] = {}
        for w, c in wc.items():
            for piece in viterbi(w, probs):
                used[piece] = used.get(piece, 0) + c
        vocab = {
            p: max(used.get(p, 0), 1) if len(p) == 1 else used.get(p, 0)
            for p in vocab
        }
    want = sorted(
        ((p, c) for p, c in vocab.items() if c > 0),
        key=lambda pc: (-pc[1], pc[0]),
    )
    assert got == want
    # the vocabulary actually segments: multi-char pieces survive EM
    assert any(len(p) > 1 for p, _ in got)


def test_unigram_learn_excludes_long_words_and_bounds(spark):
    from big_data_validator_spark.operators.text import (
        unigram_learn_vocab,
    )

    df = spark.createDataFrame(
        [("short", 5), ("averyverylongword", 100)], "w string, _n long"
    )
    got = unigram_learn_vocab(
        df, num_pieces=8, max_piece_len=2, em_iters=1, max_word_len=8
    )
    # the long word is excluded from training entirely
    assert all("g" not in p for p, _ in got)
    assert all(c > 0 for _, c in got)


# --------------------------------------------------- containment pairs

def test_containment_flags_subset_that_jaccard_misses(spark):
    from big_data_validator_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "the quick brown fox jumps over the lazy dog"
    long = ("prefix text before the quote " + short +
            " and a lot of trailing commentary that dilutes the union " +
            "with many additional unrelated shingles of filler prose")
    df = spark.createDataFrame(
        [(1, short), (2, long)], ["doc_id", "text"]
    )
    cont = ngram_containment_pairs(df, n=5, threshold=0.9).collect()
    assert len(cont) == 1
    row = cont[0]
    assert (row["id_a"], row["id_b"]) == (1, 2)
    assert row["cont_a_in_b"] >= 0.9  # the short doc is fully quoted
    assert row["cont_b_in_a"] < 0.5   # asymmetric by construction
    # the same pair is invisible to a Jaccard threshold
    jac = ngram_jaccard_pairs(df, n=5, threshold=0.9).collect()
    assert jac == []


def test_containment_matches_set_arithmetic(spark):
    from big_data_validator_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    def grams(t, n=4):
        t = t.lower()
        return {t[i:i + n] for i in range(len(t) - n + 1)}

    t1 = "abcdefghij"
    t2 = "abcdefxyzuvw"
    g1, g2 = grams(t1), grams(t2)
    expect_ab = round(len(g1 & g2) / len(g1), 6)
    expect_ba = round(len(g1 & g2) / len(g2), 6)
    df = spark.createDataFrame([(1, t1), (2, t2)], ["doc_id", "text"])
    rows = ngram_containment_pairs(df, n=4, threshold=0.1).collect()
    assert len(rows) == 1
    assert rows[0]["cont_a_in_b"] == expect_ab
    assert rows[0]["cont_b_in_a"] == expect_ba


# --------------------------------------------------- PMI collocations

def test_pmi_collocations_surfaces_collocation_over_frequency(spark):
    from big_data_validator_spark.operators.text import pmi_collocations

    # "los angeles" always co-occur (perfect association, low count);
    # "of the" is frequent but independent (each also pairs elsewhere)
    rows = []
    rows += [("los angeles",)] * 12
    rows += [("of the",)] * 30
    rows += [("of cats",)] * 30
    rows += [("for the",)] * 30
    out = pmi_collocations(
        spark.createDataFrame(rows, ["text"]), min_count=10, top_k=4
    ).collect()
    assert out[0]["bigram"] == "los angeles"
    # perfect association: PMI = ln(N / c) = ln(102/12)
    import math

    assert out[0]["pmi"] == round(math.log(102 / 12), 6)
    by = {r["bigram"]: r["pmi"] for r in out}
    assert by["los angeles"] > by["of the"]


def test_pmi_collocations_min_count_floor(spark):
    from big_data_validator_spark.operators.text import pmi_collocations

    rows = [("rare pair",)] * 3 + [("common stuff",)] * 20
    out = pmi_collocations(
        spark.createDataFrame(rows, ["text"]), min_count=10, top_k=10
    ).collect()
    bigrams = {r["bigram"] for r in out}
    assert "rare pair" not in bigrams  # hapax-ish pair suppressed
    assert "common stuff" in bigrams


def test_pmi_collocations_matches_hand_computation(spark):
    from big_data_validator_spark.operators.text import pmi_collocations
    import math
    from collections import Counter

    docs = [
        "a b a b c", "b a b", "c a b c a", "a c b a", "b c a b c b",
    ] * 4
    pair_counts = Counter()
    for d in docs:
        t = d.split()
        for i in range(len(t) - 1):
            pair_counts[(t[i], t[i + 1])] += 1
    n = sum(pair_counts.values())
    cl, cr = Counter(), Counter()
    for (l, r), c in pair_counts.items():
        cl[l] += c
        cr[r] += c
    expect = {
        f"{l} {r}": round(math.log(c * n / (cl[l] * cr[r])), 6)
        for (l, r), c in pair_counts.items()
        if c >= 4
    }
    out = pmi_collocations(
        spark.createDataFrame([(d,) for d in docs], ["text"]),
        min_count=4,
        top_k=50,
    ).collect()
    got = {r["bigram"]: r["pmi"] for r in out}
    assert got == expect


# -------------------------------------------- duplicate-span excision

def test_excise_duplicate_spans_removes_planted_boilerplate(spark):
    """VERDICT r12 item 6: the RefinedWeb-style excision transform
    removes EVERY occurrence of a span duplicated across documents
    (planted boilerplate), keeps unique content verbatim, matches a
    from-scratch Python replay of the rules exactly, and guards its
    parameters."""
    import re

    import pytest

    from big_data_validator_spark.operators.dedup import (
        excise_duplicate_spans,
    )

    boiler = "subscribe to our newsletter for daily updates and offers"
    rows = [
        (0, f"alpha content one two three. {boiler} tail words here"),
        (1, f"{boiler} beta body four five six seven eight nine ten"),
        (2, "entirely unique document with no shared spans at all ok"),
        (3, f"gamma opening words {boiler}"),
        (4, ""),  # zero tokens: excluded by contract
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    n = 6  # boilerplate is 9 words; any 6-gram inside it duplicates
    got = {
        r["id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in excise_duplicate_spans(docs, n_words=n).collect()
    }

    def toks(text):
        return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]

    tokd = {i: toks(t) for i, t in rows if toks(t)}
    gram_docs = {}
    for i, t in tokd.items():
        for p in range(len(t) - n + 1):
            g = " ".join(t[p : p + n])
            gram_docs.setdefault(g, set()).add(i)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= 2}
    want = {}
    for i, t in tokd.items():
        cov = set()
        for p in range(len(t) - n + 1):
            if " ".join(t[p : p + n]) in dup:
                cov.update(range(p, p + n))
        keep = [w for j, w in enumerate(t) if j not in cov]
        want[i] = (len(t), len(t) - len(keep), " ".join(keep))
    assert got == want
    assert 4 not in got  # zero-token doc excluded
    # the boilerplate is gone everywhere, unique content survives
    for i in (0, 1, 3):
        assert "subscribe" not in got[i][2]
    assert got[2] == (len(tokd[2]), 0, " ".join(tokd[2]))
    assert got[0][2].startswith("alpha content one two three")

    with pytest.raises(ValueError, match=">= 1"):
        excise_duplicate_spans(docs, n_words=0)
    with pytest.raises(ValueError, match=">= 2"):
        excise_duplicate_spans(docs, n_words=6, min_docs=1)


def test_materialize_release_query_failure_raises_once(spark, monkeypatch):
    """A failing query raises from the Arrow path; the Row fallback
    never re-runs it."""
    from pyspark.errors import PySparkException

    bad = spark.range(3).select(
        (F.col("id") + F.raise_error(F.lit("boom")).cast("long")).alias("x")
    )
    calls = []
    monkeypatch.setattr(type(bad), "collect", lambda self: calls.append(1))
    with pytest.raises(PySparkException, match="boom"):
        D.materialize_release(bad)
    assert calls == []


def test_materialize_release_arrow_conversion_falls_back(
    spark, monkeypatch, caplog
):
    """An Arrow conversion failure falls back to Rows, and says so once."""
    import pyarrow as pa

    def no_arrow(self):
        raise pa.ArrowInvalid("unconvertible")

    df = spark.range(3).select((F.col("id") * 2).alias("x"))
    monkeypatch.setattr(type(df), "toArrow", no_arrow)
    monkeypatch.setattr(D, "_row_fallback_logged", False)
    with caplog.at_level("WARNING", logger=D.__name__):
        first = D.materialize_release(df)
        second = D.materialize_release(df)
    assert sorted(r.x for r in first.collect()) == [0, 2, 4]
    assert second.count() == 3
    logged = [r.getMessage() for r in caplog.records]
    assert len(logged) == 1 and "Arrow conversion failed" in logged[0]
