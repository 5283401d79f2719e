from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from big_data_validator_spark.operators.curation import (
    contamination_probe_counts,
    gopher_quality_flags,
    pii_scan,
    word_quality_metrics,
)

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- quality


def test_word_metrics_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "aa bb aa cc"),  # 4 words, 3 distinct, top 'aa' x2
            (2, "x"),  # single word
            (3, ""),  # empty
            (4, "  aa   bb "),  # separator noise filtered
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in word_quality_metrics(df).collect()}
    assert got[1]["n_words"] == 4
    assert got[1]["mean_word_len"] == 2.0
    assert got[1]["dup_word_frac"] == 0.25
    assert got[1]["top_word_frac"] == 0.5
    assert got[2]["n_words"] == 1 and got[2]["dup_word_frac"] == 0.0
    assert got[3]["n_words"] == 0 and got[3]["mean_word_len"] == 0.0
    # empty doc has ZERO duplicate words (ADVICE r5: the floored
    # denominator must not leak into the numerator)
    assert got[3]["dup_word_frac"] == 0.0 and got[3]["top_word_frac"] == 0.0
    assert got[4]["n_words"] == 2 and got[4]["mean_word_len"] == 2.0


def test_gopher_flags_thresholds(spark):
    df = spark.createDataFrame(
        [
            (1, " ".join(f"word{i}" for i in range(30))),  # passes all
            (2, "aa bb"),  # too short
            (3, " ".join(["dup"] * 40)),  # repetition fails
        ],
        "doc_id long, text string",
    )
    out = gopher_quality_flags(word_quality_metrics(df))
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["quality_pass"] is True
    assert got[2]["quality_pass"] is False and not got[2]["pass_n_words"]
    assert got[3]["quality_pass"] is False
    assert not got[3]["pass_dup_words"] and not got[3]["pass_top_word"]


# -------------------------------------------------------------------- PII


def test_pii_scan_counts_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+x@e-f.org here"),
            (2, "call +1 555-000-1234 now"),
            (3, "clean text only"),
            (4, "both z@q.net and 555 123 4567 x"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pii_scan(df).collect()}
    assert got[1]["n_email"] == 2 and got[1]["n_phone"] == 0
    assert "<EMAIL>" in got[1]["redacted"]
    assert "a@b.io" not in got[1]["redacted"]
    assert got[2]["n_phone"] == 1 and "<PHONE>" in got[2]["redacted"]
    assert got[3]["n_email"] == 0 and got[3]["n_phone"] == 0
    assert got[3]["redacted"] == "clean text only"
    assert got[4]["n_email"] == 1 and got[4]["n_phone"] == 1


def test_pii_scan_overlapping_patterns_count_sequentially(spark):
    """An email whose local part is a long digit run must not ALSO count
    as a phone: counts run against the previous pattern's redacted
    output, so every n_<name> equals the <NAME> tokens in `redacted`."""
    df = spark.createDataFrame(
        [(1, "reach me: foo12345678901@bar.com")],
        "doc_id long, text string",
    )
    got = pii_scan(df).collect()[0]
    assert got["n_email"] == 1
    assert got["n_phone"] == 0
    assert got["redacted"].count("<EMAIL>") == got["n_email"]
    assert got["redacted"].count("<PHONE>") == got["n_phone"]


# ---------------------------------------------------------- contamination


def test_contamination_counts_and_self_exclusion(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "quick brown stuff"),
            (3, "nothing here"),
            (4, "very quick brown fox indeed"),
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(1, "quick brown"), (3, "zebra")],
        "probe_id long, probe string",
    )
    got = {
        r["probe_id"]: r["n_contaminated"]
        for r in contamination_probe_counts(
            corpus, probes, corpus_id_col="doc_id"
        ).collect()
    }
    # probe 1 matches docs 2 and 4 (doc 1 = self, excluded); probe 3: none
    assert got == {1: 2, 3: 0}


def test_contamination_probe_plan_broadcasts(spark):
    corpus = spark.createDataFrame(
        [(1, "abc")], "doc_id long, text string"
    )
    probes = spark.createDataFrame(
        [(9, "b")], "probe_id long, probe string"
    )
    plan = contamination_probe_counts(
        corpus, probes, corpus_id_col="doc_id"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_contamination_duplicate_probe_rows_count_once(spark):
    """ADVICE r5: an exactly-duplicated probe row must not double-count
    its hits."""
    corpus = spark.createDataFrame(
        [(1, "needle in a haystack"), (2, "no match here")],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(10, "needle"), (10, "needle"), (11, "haystack")],
        "probe_id long, probe string",
    )
    got = {
        r["probe_id"]: r["n_contaminated"]
        for r in contamination_probe_counts(
            corpus, probes, corpus_id_col="doc_id"
        ).collect()
    }
    assert got == {10: 1, 11: 1}


# ---------------------------------------------------------------- oracle


def test_registry_entries_match_duckdb(spark):
    from big_data_validator_spark.queries import REGISTRY

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR}/documents.parquet'"
    )
    for name in (
        "quality_gopher_flags",
        "pii_redaction_scan",
        "contamination_probes",
    ):
        spec = REGISTRY[name]
        got = sorted(tuple(r) for r in spec.fn(spark, SF_DIR).collect())
        want = sorted(
            tuple(r) for r in con.execute(spec.oracle).fetchall()
        )
        assert got == want, name
        assert len(got) > 0, name


# ------------------------------------------------------------- unigram LM


def test_unigram_lm_known_distribution(spark):
    from big_data_validator_spark.operators.text import unigram_lm_scores
    import math

    # corpus: 'a' x3, 'b' x1 -> p(a)=3/4, p(b)=1/4
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in unigram_lm_scores(df).collect()}
    exp1 = -(2 * math.log2(3 / 4) + math.log2(1 / 4)) / 3
    exp2 = -math.log2(3 / 4)
    assert got[1]["n_words"] == 3
    assert abs(got[1]["lm_score"] - exp1) < 1e-3
    assert abs(got[2]["lm_score"] - exp2) < 1e-3


def test_unigram_lm_oov_smoothing(spark):
    from big_data_validator_spark.operators.text import unigram_lm_scores
    import math

    # vocab_size=1 keeps only the top word ('a', count 3, tie-break n/a);
    # 'b' falls out of vocab and scores with count 0.5
    df = spark.createDataFrame(
        [(1, "a a a b")], "doc_id long, text string"
    )
    got = unigram_lm_scores(df, vocab_size=1).collect()[0]
    exp = -(3 * math.log2(3 / 4) + math.log2(0.5 / 4)) / 4
    assert abs(got["lm_score"] - exp) < 1e-3


def test_unigram_lm_empty_doc_excluded_and_validation(spark):
    from big_data_validator_spark.operators.text import unigram_lm_scores
    import pytest

    df = spark.createDataFrame(
        [(1, "x y"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    ids = {r["doc_id"] for r in unigram_lm_scores(df).collect()}
    assert ids == {1}
    with pytest.raises(ValueError):
        unigram_lm_scores(df, vocab_size=0)


def test_k_anonymity_and_l_diversity_violations(spark):
    """k-anonymity: groups under k flag; l-diversity: a k-anonymous
    group whose sensitive attribute is uniform still flags; compliant
    groups don't appear; both rules can flag the same group."""
    from big_data_validator_spark.operators.curation import (
        k_anonymity_violations,
    )

    rows = (
        [("us", 1, f"d{i}") for i in range(5)]        # ok: n=5, div=5
        + [("uk", 1, "flu")] * 4                      # n=4<k AND uniform
        + [("fr", 2, "flu")] * 6                      # k-ok, div=1<l
        + [("de", 3, "a"), ("de", 3, "b")]            # n=2<k, div=2>=l? l=2
    )
    df = spark.createDataFrame(rows, "region string, band long, diag string")
    got = {
        (r["region"], r["band"]): (
            r["group_size"], r["sensitive_diversity"], list(r["violations"])
        )
        for r in k_anonymity_violations(
            df, ["region", "band"], k=5, sensitive_col="diag", l=2
        ).collect()
    }
    assert ("us", 1) not in got
    assert got[("uk", 1)] == (4, 1, ["k_anonymity", "l_diversity"])
    assert got[("fr", 2)] == (6, 1, ["l_diversity"])
    assert got[("de", 3)] == (2, 2, ["k_anonymity"])


# -------------------------------------------- n-gram overlap contamination

def test_contamination_ngram_overlap_catches_partial_quote(spark):
    from big_data_validator_spark.operators.curation import (
        contamination_ngram_overlap,
    )

    bench_text = "what is the capital of france the answer is paris"
    bench = spark.createDataFrame([(0, bench_text)], ["doc_id", "text"])
    docs = spark.createDataFrame(
        [
            # contains the benchmark question verbatim inside prose
            (1, "some preamble " + bench_text + " trailing words " +
                "going on and on with fresh content here"),
            # clean doc of the same length
            (2, "totally unrelated text about weather patterns and "
                "their effect on regional agriculture in the north"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["id"]: r
        for r in contamination_ngram_overlap(
            docs, bench, n_words=5, flag_threshold=0.1
        ).collect()
    }
    assert got[1]["n_dirty"] > 0 and got[1]["flagged"]
    assert got[2]["n_dirty"] == 0 and not got[2]["flagged"]
    assert got[2]["dirty_frac"] == 0.0


def test_contamination_ngram_overlap_matches_set_arithmetic(spark):
    from big_data_validator_spark.operators.curation import (
        contamination_ngram_overlap,
    )
    import re

    def grams(t, n):
        toks = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    bench_t = "a b c d e f g h"
    doc_t = "x y a b c d q r s t u v w"
    expect_hits = len(grams(doc_t, 4) & grams(bench_t, 4))
    expect_total = len(grams(doc_t, 4))
    bench = spark.createDataFrame([(0, bench_t)], ["doc_id", "text"])
    docs = spark.createDataFrame([(1, doc_t)], ["doc_id", "text"])
    [row] = contamination_ngram_overlap(
        docs, bench, n_words=4, flag_threshold=0.5
    ).collect()
    assert (row["n_grams"], row["n_dirty"]) == (expect_total, expect_hits)


def test_contamination_ngram_overlap_short_docs_excluded(spark):
    from big_data_validator_spark.operators.curation import (
        contamination_ngram_overlap,
    )

    bench = spark.createDataFrame([(0, "a b c d e")], ["doc_id", "text"])
    docs = spark.createDataFrame(
        [(1, "too short"), (2, "a b c d e plus more words")],
        ["doc_id", "text"],
    )
    rows = contamination_ngram_overlap(
        docs, bench, n_words=5
    ).collect()
    assert [r["id"] for r in rows] == [2]  # sub-n docs have no grams


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """DSIR importance weights must rank a raw document drawn from the
    target vocabulary above one drawn from a disjoint vocabulary, count
    features as unigrams+bigrams, and exclude target docs and empty
    docs from the output."""
    from big_data_validator_spark.operators.curation import (
        dsir_importance_weights,
    )

    target_text = "solar panels convert sunlight into electric power"
    docs = spark.createDataFrame(
        [
            (0, target_text),
            (1, "solar power systems and sunlight panels efficiency"),
            (2, "medieval castles siege warfare trebuchet tactics"),
            (3, "   "),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["id"]: r
        for r in dsir_importance_weights(
            docs, lambda c: c < 1, n_buckets=512
        ).collect()
    }
    assert set(got) == {1, 2}  # target + empty excluded
    assert got[1]["dsir_score"] > got[2]["dsir_score"]
    # n_feats = unigrams + bigrams = 7 + 6 for doc 1
    assert got[1]["n_feats"] == 13


def test_linear_quality_scores_matches_python_reference(spark):
    """fastText-style linear inference == a from-scratch Python
    reference (hashlib md5 buckets, integer mean, truncating div) on
    mixed-sign weights — the exactness contract the oracle relies on."""
    import hashlib

    from big_data_validator_spark.operators.curation import (
        linear_quality_scores,
    )

    B = 64
    wmap = {b: ((b * 31) % 21) - 10 for b in range(0, B, 3)}  # sparse
    weights = spark.createDataFrame(
        list(wmap.items()), ["bucket", "weight"]
    )
    texts = [
        (0, "Hello world, hello AGAIN world!"),
        (1, "a b c d e f g"),
        (2, "   "),              # zero tokens -> excluded
        (3, "numbers 123 and mixed42tokens too"),
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])

    import re

    def py_score(t):
        toks = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        if not toks:
            return None
        sw = sum(
            wmap.get(
                int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % B, 0
            )
            for w in toks
        )
        n = len(toks)
        q = abs(sw * 1_000_000) // n  # truncating div, both engines
        return (n, q if sw >= 0 else -q)

    got = {
        r["id"]: (r["n_tokens"], r["score_ppm"], r["flagged"])
        for r in linear_quality_scores(
            docs, weights, n_buckets=B, threshold_ppm=5
        ).collect()
    }
    assert set(got) == {0, 1, 3}  # doc 2 excluded
    for i, t in texts:
        ref = py_score(t)
        if ref is None:
            continue
        n, s = ref
        assert got[i] == (n, s, s >= 5), (i, got[i], ref)


def test_linear_quality_scores_plan_and_guards(spark):
    """Inference must stay shuffle-free (one broadcast array row, no
    Exchange from scoring) and reject out-of-range buckets."""
    import pytest

    from big_data_validator_spark.operators.curation import (
        linear_quality_scores,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma")], ["doc_id", "text"]
    )
    weights = spark.createDataFrame([(0, 5)], ["bucket", "weight"])
    out = linear_quality_scores(docs, weights, n_buckets=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # zero-SHUFFLE scoring: the only Exchange is the one-row weight
    # vector's BroadcastExchange; the corpus never repartitions
    assert plan.count("Exchange") == plan.count("BroadcastExchange")
    assert plan.count("BroadcastExchange") == 1
    with pytest.raises(ValueError, match="outside"):
        linear_quality_scores(
            docs,
            spark.createDataFrame([(99, 1)], ["bucket", "weight"]),
            n_buckets=16,
        )
    with pytest.raises(ValueError, match="positive"):
        linear_quality_scores(docs, weights, n_buckets=0)


def test_contamination_bloom_equals_exact_path(spark):
    """The Bloom prefilter + exact-confirm variant returns IDENTICAL
    rows to the broadcast-join path — zero false negatives by Bloom
    construction, false positives removed by the confirm join — on a
    corpus with planted verbatim overlaps, at BOTH a tight and a loose
    fpp (fpp moves survivor volume, never the result)."""
    import random

    from big_data_validator_spark.operators.curation import (
        contamination_ngram_bloom,
        contamination_ngram_overlap,
    )

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(300)]
    bench_rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(30)))
        for i in range(10)
    ]
    docs_rows = []
    for i in range(40):
        body = " ".join(rng.choice(vocab) for _ in range(80))
        if i % 4 == 0:  # plant a verbatim benchmark span
            body = body + " " + bench_rows[i % 10][1]
        docs_rows.append((i, body))
    bench = spark.createDataFrame(bench_rows, ["doc_id", "text"])
    docs = spark.createDataFrame(docs_rows, ["doc_id", "text"])

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    exact = rows(
        contamination_ngram_overlap(docs, bench, n_words=5)
    )
    assert any(t[2] > 0 for t in exact)  # planted overlaps found
    for fpp in (0.01, 0.5):
        got = rows(
            contamination_ngram_bloom(docs, bench, n_words=5, fpp=fpp)
        )
        assert got == exact, fpp


def test_contamination_bloom_prefilter_fp_rate_bounded(spark):
    """The expression-arithmetic Bloom bitmap achieves roughly its
    design fpp: with a benchmark DISJOINT from the corpus vocabulary,
    the survivor fraction of the exact-clean corpus grams stays within
    a slack factor of the requested rate (the k/m sizing is live, not
    decorative), and zero survivors pass the exact confirm."""
    import random

    from big_data_validator_spark.operators.curation import (
        contamination_ngram_bloom,
    )

    rng = random.Random(29)
    bench = spark.createDataFrame(
        [
            (i, " ".join(f"b{rng.randrange(2000)}" for _ in range(40)))
            for i in range(25)
        ],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"c{rng.randrange(2000)}" for _ in range(120)))
            for i in range(60)
        ],
        ["doc_id", "text"],
    )
    out = contamination_ngram_bloom(
        docs, bench, n_words=5, fpp=0.01
    ).collect()
    # disjoint vocabularies -> the exact result is all-clean
    assert all(r["n_dirty"] == 0 for r in out)
    # measure the prefilter directly via the operator's own helpers
    from big_data_validator_spark.operators.curation import (
        _bloom_bitmap_df,
        _bloom_member_expr,
        _bloom_params,
        _word_ngrams_expr,
    )
    from pyspark.sql import functions as F

    bench_grams = bench.select(
        F.explode(_word_ngrams_expr(F.col("text"), 5)).alias("_g")
    ).distinct()
    m, k = _bloom_params(bench_grams.count(), 0.01)
    bitmap = _bloom_bitmap_df(bench_grams, "_g", m, k)
    doc_grams = docs.select(
        F.explode(_word_ngrams_expr(F.col("text"), 5)).alias("_g")
    )
    n_doc_grams = doc_grams.count()
    assert n_doc_grams > 3000  # the rate below is measured, not vacuous
    survivors = (
        doc_grams.crossJoin(F.broadcast(bitmap))
        .filter(_bloom_member_expr("_g", m, k))
        .count()
    )
    # every survivor is a Bloom false positive here (disjoint vocabs);
    # 5x slack absorbs hash variance at this sample size
    assert survivors / n_doc_grams <= 5 * 0.01
    assert survivors < n_doc_grams * 0.5  # the filter actually filters


# ------------------------------------------- linear classifier training

def test_linear_quality_train_matches_python_reference(spark):
    """VERDICT r12 item 4: the full-batch integer-GD trainer produces
    BIT-IDENTICAL weights to a from-scratch Python replay of the rules
    (md5 buckets, per-term truncating division, 1/N default step), and
    the learned weights actually separate: quality docs (distinct
    vocabulary) score above the rest through linear_quality_scores."""
    import hashlib
    import re

    import pytest

    from big_data_validator_spark.operators.curation import (
        linear_quality_scores,
        linear_quality_train,
    )
    from big_data_validator_spark.operators.similarity import _tdiv

    B, S, steps = 256, 1_000_000, 3
    quality = [
        "curated reference prose with precise vocabulary and care",
        "precise curated writing with reference vocabulary throughout",
        "careful curated prose precise reference style vocabulary",
    ]
    junk = [
        "buy cheap now click here spam spam offer",
        "click buy offer cheap spam now here now",
        "offer spam click cheap buy here now spam",
        "spam offer buy now click here cheap deal",
    ]
    rows = [(i, t) for i, t in enumerate(quality + junk)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {
        r["bucket"]: r["weight"]
        for r in linear_quality_train(
            docs, lambda c: c < len(quality), n_buckets=B, steps=steps
        ).collect()
    }

    def toks(text):
        return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]

    def bucket(tok):
        return (
            int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % B
        )

    feats = {}
    for i, text in rows:
        t = toks(text)
        if not t:
            continue
        cnt = {}
        for tok in t:
            b = bucket(tok)
            cnt[b] = cnt.get(b, 0) + 1
        feats[i] = (1 if i < len(quality) else 0, len(t), cnt)
    div = len(feats)
    w = [0] * B
    for _ in range(steps):
        g = [0] * B
        for y, n, cnt in feats.values():
            sw = sum(c * w[b] for b, c in cnt.items())
            r = _tdiv(sw, n) - y * S
            for b, c in cnt.items():
                g[b] += _tdiv(r * c, n)
        for b in range(B):
            w[b] -= _tdiv(g[b], div)
    want = {b: wb for b, wb in enumerate(w) if wb != 0}
    assert got == want

    learned = spark.createDataFrame(
        sorted(got.items()), ["bucket", "weight"]
    )
    scores = {
        r["id"]: r["score_ppm"]
        for r in linear_quality_scores(
            docs, learned, n_buckets=B
        ).collect()
    }
    q_scores = [scores[i] for i in range(len(quality))]
    j_scores = [scores[i + len(quality)] for i in range(len(junk))]
    assert min(q_scores) > max(j_scores)

    with pytest.raises(ValueError, match="positive"):
        linear_quality_train(docs, lambda c: c < 3, n_buckets=0)
    with pytest.raises(ValueError, match=">= 1"):
        linear_quality_train(docs, lambda c: c < 3, n_buckets=B, steps=0)
    empty = spark.createDataFrame([(1, "   ")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="no training documents"):
        linear_quality_train(empty, lambda c: c < 3, n_buckets=B)


# ------------------------------------------------- Gopher repetition suite

def test_repetition_metrics_match_python_reference(spark):
    """The line/top-gram/dup-gram-coverage repetition metrics (the
    actual Gopher gates) match a from-scratch Python replay exactly —
    planted repeated sentences, a dominating 2-gram, and a repeated
    5-gram span, plus a clean doc and a no-separator doc."""
    import re

    import pytest

    from big_data_validator_spark.operators.curation import (
        repetition_metrics,
    )

    rows = [
        (0, "Buy now. Buy now. Something else entirely here. Buy now."),
        (1, "alpha beta alpha beta alpha beta gamma delta"),
        (2, "one two three four five six one two three four five six"),
        (3, "a perfectly normal sentence with no repetition at all"),
        (4, "justonetoken"),
        (5, "   "),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["id"]: (
            r["n_tokens"], r["n_lines"], r["dup_line_frac_ppm"],
            r["dup_line_char_frac_ppm"], r["top2gram_char_frac_ppm"],
            r["dup5gram_char_frac_ppm"],
        )
        for r in repetition_metrics(docs).collect()
    }

    def toks(text):
        return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]

    def tdiv(a, b):
        q = abs(a) // abs(max(b, 1))
        return q if a >= 0 else -q

    want = {}
    for i, text in rows:
        t = toks(text)
        if not t:
            continue
        tchars = sum(len(w) for w in t)
        lines = [
            s.strip()
            for s in re.split(r"[.!?]+\s+|\n+", text)
            if s.strip()
        ]
        from collections import Counter

        lcnt = Counter(lines)
        n_lines = len(lines)
        dl = sum(c for c in lcnt.values() if c >= 2)
        lch = sum(c * len(l) for l, c in lcnt.items())
        dlch = sum(c * len(l) for l, c in lcnt.items() if c >= 2)
        g2 = Counter(
            " ".join(t[p : p + 2]) for p in range(len(t) - 1)
        )
        if g2:
            top_g, top_c = max(g2.items(), key=lambda kv: (kv[1], [-ord(ch) for ch in kv[0]]))
            # tie-break smallest gram: redo explicitly
            best = sorted(g2.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            topch = best[1] * (len(best[0]) - 1)
        else:
            topch = 0
        g5 = {}
        for p in range(len(t) - 4):
            g5.setdefault(" ".join(t[p : p + 5]), []).append(p)
        cov = set()
        for g, ps in g5.items():
            if len(ps) >= 2:
                for p in ps:
                    cov.update(range(p, p + 5))
        covch = sum(len(t[j]) for j in cov)
        want[i] = (
            len(t), n_lines,
            tdiv(dl * 10**6, n_lines),
            tdiv(dlch * 10**6, lch),
            tdiv(topch * 10**6, tchars),
            tdiv(covch * 10**6, tchars),
        )
    assert got == want
    assert 5 not in got  # token-less doc excluded
    assert got[0][2] > 0 and got[3][2] == 0  # dup lines detected
    assert got[1][4] > 400_000  # dominating 2-gram
    assert got[2][5] > 800_000  # repeated 5-gram span covers most chars
    with pytest.raises(ValueError, match=">= 1"):
        repetition_metrics(docs, top_ngram=0)
