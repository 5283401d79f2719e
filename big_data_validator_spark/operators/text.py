"""Text-analysis operators for training-data pipelines.

All hot-path logic is Catalyst expressions (regexp/split/aggregate higher-
order functions) — no Python UDFs — so these run at full codegen speed over
100 TB of documents.  Each operator returns deterministic, oracle-checkable
columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_validator_spark.operators import checkpoint

# Tiny per-language stopword marker sets for the n-gram/stopword language
# heuristic.  Chosen to be disjoint across languages so the scoring is
# well-defined; word-boundary regexes keep matching portable across engines.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "with", "for"],
    "fr": ["le", "la", "les", "des", "est"],
    "es": ["el", "los", "las", "por", "una"],
    "de": ["der", "die", "das", "und", "ist"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3"],  # romanized markers
}


def token_count(col: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0 tokens."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def word_tokens(col: Column) -> Column:
    """Array of lowercase word tokens (alnum runs)."""
    return F.filter(
        F.split(F.lower(col), r"[^a-z0-9]+"), lambda t: t != ""
    )


def char_ngrams(s: Column, n: int) -> Column:
    """Array of character n-grams (shingles) of ``s``, as given: callers
    lowercase first.  Expression-only sliding window: substring positions
    generated with ``sequence`` + ``transform`` — no exploding UDF.

    CAUTION: any expression passed as ``s`` is embedded in the transform
    lambda and re-evaluated PER ELEMENT (Catalyst does not hoist common
    subexpressions out of HOF lambdas — measured ~2× on the dedup path
    from `lower()` alone).  Pass a plain column reference and pre-compute
    transformations, lowercasing included, in a prior projection."""
    return F.when(F.length(s) < n, F.array(s)).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(s) - n + 1),
            lambda i: s.substr(i, F.lit(n)),
        )
    )


def normalized_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alphanumerics
    to spaces, collapse whitespace, trim."""
    s = F.lower(col)
    s = F.regexp_replace(s, r"[^a-z0-9]+", " ")
    return F.trim(s)


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    Identical formulation exists in every SQL engine → oracle-checkable;
    near-dup variants (minhash/simhash) live in
    :mod:`big_data_validator_spark.operators.dedup`."""
    return F.md5(normalized_text(col))


def quality_features(col: Column) -> dict[str, Column]:
    """Quality-scoring feature set (length / punctuation / stopword /
    digit ratios).  Returned as named expressions so callers select them in
    one projection."""
    n_chars = F.length(col)
    toks = token_count(col)
    stop_pattern = r"\b(" + "|".join(LANG_MARKERS["en"]) + r")\b"
    return {
        "n_chars": n_chars,
        "n_tokens": toks,
        "avg_token_len": F.when(
            toks > 0, (n_chars - toks + 1) / toks
        ).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(
            n_chars > 0,
            F.regexp_count(col, F.lit(r"[^\w\s]")) / n_chars,
        ).otherwise(F.lit(0.0)),
        "digit_ratio": F.when(
            n_chars > 0, F.regexp_count(col, F.lit(r"[0-9]")) / n_chars
        ).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(
            toks > 0,
            F.regexp_count(F.lower(col), F.lit(stop_pattern)) / toks,
        ).otherwise(F.lit(0.0)),
    }


def quality_score(col: Column) -> Column:
    """Scalar quality score in [0, 1]: rewards stopword density and
    moderate token length, penalizes punctuation/digit noise.  A heuristic
    — the point is the shape (pure expressions, one pass), not the weights."""
    f = quality_features(col)
    score = (
        F.lit(0.4) * F.least(f["stopword_ratio"] * 4, F.lit(1.0))
        + F.lit(0.3) * F.least(f["n_tokens"] / 100.0, F.lit(1.0))
        + F.lit(0.3)
        * (F.lit(1.0) - F.least(f["punct_ratio"] * 5, F.lit(1.0)))
    )
    return F.round(score, 4)


def lang_scores(col: Column) -> dict[str, Column]:
    """Per-language stopword-marker hit counts (word-boundary matches)."""
    lower = F.lower(col)
    return {
        lang: F.regexp_count(
            lower, F.lit(r"\b(" + "|".join(words) + r")\b")
        )
        for lang, words in LANG_MARKERS.items()
    }


def lang_guess(col: Column) -> Column:
    """Argmax language by marker score with a fixed priority order for ties
    (the declaration order of LANG_MARKERS) — deterministic and expressible
    identically in ANSI SQL for the oracle."""
    scores = lang_scores(col)
    langs = list(scores)
    best = F.greatest(*[scores[l] for l in langs]) if len(langs) > 1 else scores[langs[0]]
    expr = F.lit("unknown")
    for lang in reversed(langs):
        expr = F.when(
            (scores[lang] > 0) & (scores[lang] == best), F.lit(lang)
        ).otherwise(expr)
    return expr


_TFIDF_K = 3


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``_TFIDF_K`` TF-IDF terms per document — the classic two-pass corpus
    statistic (keyword extraction / quality signals for curation).

    Plan shape at scale: one scan tokenizes and counts term frequencies
    (shuffle on (doc, term)); document frequencies aggregate from the SAME
    tf relation (shuffle carries (term, partial df) only — documents are
    never re-read); the corpus size joins in as a broadcast 1-row
    aggregate, NOT a driver-side ``count()``.  The per-doc top-k window
    plans ``WindowGroupLimit``.  ``idf = ln(N / df)``, score rounded to 4
    digits with (score desc, term asc) tie-break — deterministic and
    expressible identically in ANSI SQL for the oracle.
    Returns ``(id, term, tf, df, score, rank)``.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_tokens(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("_n") / F.col("df")), 4),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .select("id", "term", "tf", "df", "score", "rank")
    )


def unigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 10000,
) -> DataFrame:
    """CCNet-style unigram language-model quality score: per document,
    the mean negative log2 probability of its words under the CORPUS
    unigram distribution — low = typical text, high = gibberish /
    off-distribution (the standard cheap LM filter before a real LM).

    Fully distributed, no driver-side vocabulary:

    1. ``(doc, word)`` pairs via explode — the wordcount shuffle shape;
    2. vocabulary = top ``vocab_size`` words by count, deterministic
       tie-break, planned as TakeOrderedAndProject (bounded);
    3. pairs LEFT-join the BROADCAST vocabulary; out-of-vocabulary
       words get count 0.5 (simple smoothing), so the score is defined
       for every word;
    4. one aggregation back to per-document mean.

    Returns ``(id_col, n_words, lm_score)``, score rounded to 4
    (float-sum order jitter).  Empty documents are excluded (no words
    → no distribution to score).
    """
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be positive, got {vocab_size}")
    words = df.select(
        F.col(id_col),
        F.explode(
            F.expr(f"filter(split(lower({text_col}), ' '), x -> x != '')")
        ).alias("_w"),
    )
    vocab = (
        words.groupBy("_w")
        .agg(F.count(F.lit(1)).cast("double").alias("_cnt"))
        .orderBy(F.col("_cnt").desc(), F.col("_w").asc())
        .limit(vocab_size)
    )
    total = words.agg(F.count(F.lit(1)).cast("double").alias("_total"))
    p = F.coalesce(F.col("_cnt"), F.lit(0.5)) / F.col("_total")
    return (
        words.join(F.broadcast(vocab), "_w", "left")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.round(F.avg(-F.log2(p)), 4).alias("lm_score"),
        )
    )


#: Demo BPE merge table, in RANK ORDER (rank = list index): the classic
#: high-frequency English merges.  The encoder, its oracle and the vocab
#: below are all generated from this one table.
BPE_DEMO_MERGES: "list[tuple[str, str]]" = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("an", "d"), ("in", "g"), ("t", "o"), ("e", "s"), ("o", "f"),
    ("o", "u"), ("i", "s"), ("a", "l"), ("s", "t"), ("e", "d"),
]

#: Base alphabet for :func:`bpe_vocab` — the [a-z0-9] charset
#: ``word_tokens`` emits, so every post-merge symbol is in-vocab.
_BPE_BASE_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789"

#: Symbol boundary inside the encoder's working string.  Any character
#: outside the token alphabet works; '|' keeps the oracle SQL readable.
_BPE_SEP = "|"


def bpe_vocab() -> "dict[str, int]":
    """Token→id table implied by :data:`BPE_DEMO_MERGES`: base chars
    first (rank order a-z0-9), then one merged symbol per rank.
    Deterministic — both engines and every run assign identical ids."""
    vocab = {ch: i for i, ch in enumerate(_BPE_BASE_CHARS)}
    for a, b in BPE_DEMO_MERGES:
        if a + b not in vocab:
            vocab[a + b] = len(vocab)
    return vocab


def bpe_encode_tokens(col: Column) -> Column:
    """REAL byte-pair encoding of one lowercase word token into its BPE
    symbol array, as a pure Catalyst expression chain (codegen, no
    Python, no UDF).

    Algorithm (Sennrich 2016 encode): apply each
    :data:`BPE_DEMO_MERGES` rule in RANK ORDER, replacing every
    adjacent occurrence of the pair left-to-right.  The working
    representation wraps each symbol in separators — ``the`` →
    ``|t||h||e|`` — so a pair replace is a plain substring replace of
    ``|A||B|`` with ``|AB|``:

    - the double separator ``||`` occurs exactly at symbol boundaries
      and symbols never contain the separator, so a match can only bind
      WHOLE adjacent symbols (no mid-symbol or prefix aliasing);
    - ``replace`` scans left-to-right without rescanning its own
      output, which is precisely BPE's left-to-right merge of
      non-overlapping occurrences (``aaa`` + merge (a,a) → ``[aa, a]``).

    ``replace``/``regexp_replace`` have identical semantics in DuckDB,
    so the oracle replays the exact algorithm (see
    :func:`bpe_oracle_sql_expr`).  Input must be non-empty ``[a-z0-9]+``
    (what :func:`word_tokens` yields).  Returns the symbol array.
    """
    out = F.regexp_replace(
        col, "(.)", f"{_BPE_SEP}$1{_BPE_SEP}"
    )
    for a, b in BPE_DEMO_MERGES:
        out = F.replace(
            out,
            F.lit(f"{_BPE_SEP}{a}{_BPE_SEP}{_BPE_SEP}{b}{_BPE_SEP}"),
            F.lit(f"{_BPE_SEP}{a}{b}{_BPE_SEP}"),
        )
    return F.split(F.btrim(out, F.lit(_BPE_SEP)), r"\|\|")


def bpe_oracle_sql_expr(word_expr: str) -> str:
    """The DuckDB expression computing EXACTLY
    :func:`bpe_encode_tokens` for ``word_expr`` (a SQL string
    expression), generated from the same merge table so the two
    engines cannot drift.  Returns a VARCHAR[] expression."""
    expr = f"regexp_replace({word_expr}, '(.)', '|\\1|', 'g')"
    for a, b in BPE_DEMO_MERGES:
        expr = f"replace({expr}, '|{a}||{b}|', '|{a}{b}|')"
    return f"string_split(trim({expr}, '|'), '||')"


def bpe_learn_merges(
    words: "DataFrame",
    num_merges: int = 8,
    word_col: str = "w",
    count_col: str = "_n",
) -> "list[tuple[int, str, str, int]]":
    """LEARN a BPE merge table FROM the corpus — the training half of
    the tokenizer loop (:func:`bpe_encode_tokens` applies a table of
    this shape, :data:`BPE_DEMO_MERGES`; Sennrich 2016 learn): repeat
    ``num_merges`` times: count every adjacent symbol pair across the
    weighted vocabulary, take the most frequent (ties broken count-desc
    then pair-lexicographic — a deterministic rule both engines share),
    merge it everywhere, record it.

    Scale contract: the corpus is reduced to DISTINCT ``(word, count)``
    BEFORE this runs, so every iteration aggregates over the
    VOCABULARY (10⁵–10⁶ rows at web scale), not the corpus; each round
    is one pair-explode aggregation plus one argmax ``collect()`` of
    exactly ONE row (bounded driver work by construction, like the IVF
    training sample).  The working frame is eagerly localCheckpointed
    each round — the replace-chain lineage would otherwise deepen by
    one expression per merge.

    Uses the same ``|``-wrapped symbol-string representation as the
    encoder, so a pair merge is a plain left-to-right ``replace`` of
    ``|A||B|`` with ``|AB|`` — bindable only at whole-symbol
    boundaries, identical semantics in DuckDB (the oracle replays the
    loop UNROLLED with materialized CTEs).

    Returns ``[(rank, a, b, pair_count), ...]``.
    """
    work = checkpoint(words.select(
        F.regexp_replace(F.col(word_col), "(.)", f"{_BPE_SEP}$1{_BPE_SEP}")
        .alias("s"),
        F.col(count_col).cast("long").alias("cnt"),
    ))
    merges: "list[tuple[int, str, str, int]]" = []
    for rank in range(num_merges):
        syms = F.split(F.btrim(F.col("s"), F.lit(_BPE_SEP)), r"\|\|")
        pairs = (
            work.select(
                F.explode(
                    F.arrays_zip(
                        syms.alias("a"),
                        F.slice(syms, 2, 1_000_000).alias("b"),
                    )
                ).alias("pr"),
                "cnt",
            )
            .filter(F.col("pr.b").isNotNull())
            .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
            .agg(F.sum("cnt").alias("n"))
        )
        best = (
            pairs.orderBy(
                F.col("n").desc(), F.col("a").asc(), F.col("b").asc()
            )
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, n = best[0]["a"], best[0]["b"], int(best[0]["n"])
        merges.append((rank, a, b, n))
        work = checkpoint(work.select(
            F.replace(
                F.col("s"),
                F.lit(f"{_BPE_SEP}{a}{_BPE_SEP}{_BPE_SEP}{b}{_BPE_SEP}"),
                F.lit(f"{_BPE_SEP}{a}{b}{_BPE_SEP}"),
            ).alias("s"),
            "cnt",
        ))
    return merges


# ------------------------------------------------- unigram-LM tokenizer

def unigram_seed_pieces(
    words: "DataFrame",
    max_piece_len: int = 4,
    word_col: str = "w",
    count_col: str = "_n",
) -> "DataFrame":
    """Seed vocabulary for unigram-LM training: every substring of
    length 1..``max_piece_len`` of every word, weighted by the word's
    corpus count and occurrence multiplicity — the standard "substring
    seed" SentencePiece starts from.  Returns ``(piece, freq)``.

    Pure expression explode (flatten of per-length transforms, guarded
    for words shorter than the piece length) + one aggregation; the
    shuffle carries (piece, partial count) rows only.
    """
    subs = F.expr(
        f"flatten(transform(sequence(1, {max_piece_len}), l -> "
        f"CASE WHEN length({word_col}) >= l THEN "
        f"transform(sequence(1, length({word_col}) - l + 1), "
        f"s -> substring({word_col}, s, l)) "
        "ELSE array() END))"
    )
    return (
        words.select(
            F.explode(subs).alias("piece"),
            F.col(count_col).cast("long").alias("cnt"),
        )
        .groupBy("piece")
        .agg(F.sum("cnt").alias("freq"))
    )


def viterbi_pieces_kernel(probs: dict):
    """Arrow kernel segmenting each word into its max-likelihood piece
    sequence under a unigram LM — the Viterbi E-step of hard-EM
    tokenizer training.  The DP order is PINNED so a SQL engine
    replays it bit-for-bit: ``best[0] = 1.0``; for each end position
    ``j`` ascending, candidates are ``best[j-l] * p(piece)`` for piece
    lengths ``l`` ascending, replacing only on STRICTLY greater — so
    the winner is the shortest length among max-score candidates,
    which is exactly ``MIN(l)`` over the SQL argmax.  Every score is a
    chain of correctly-rounded IEEE ops (one division per probability,
    one multiplication per DP edge) over exact integers, so Python
    floats and engine DOUBLEs agree bit-for-bit — no logs, no sums of
    floats anywhere (the hash discipline's float rule).
    """
    from pyspark.sql.pandas.functions import pandas_udf

    max_len = max(len(p) for p in probs) if probs else 1

    @pandas_udf("array<string>")
    def kernel(ws):
        import pandas as pd

        out = []
        for w in ws:
            if w is None:
                out.append(None)
                continue
            n = len(w)
            best = [0.0] * (n + 1)
            best[0] = 1.0
            back = [0] * (n + 1)
            for j in range(1, n + 1):
                bs, bl = -1.0, 0
                for l in range(1, min(max_len, j) + 1):
                    p = probs.get(w[j - l : j])
                    if p is None:
                        continue
                    cand = best[j - l] * p
                    if cand > bs:
                        bs, bl = cand, l
                best[j], back[j] = bs, bl
            if back[n] == 0:
                out.append(None)  # unsegmentable (char not in vocab)
                continue
            pieces, j = [], n
            while j > 0:
                l = back[j]
                pieces.append(w[j - l : j])
                j -= l
            out.append(pieces[::-1])
        return pd.Series(out)

    return kernel


def unigram_learn_vocab(
    words: "DataFrame",
    num_pieces: int = 48,
    max_piece_len: int = 4,
    em_iters: int = 2,
    max_word_len: int = 12,
    word_col: str = "w",
    count_col: str = "_n",
) -> "list[tuple[str, int]]":
    """LEARN a unigram-LM tokenizer vocabulary from the corpus — the
    SentencePiece-family trainer next to :func:`bpe_learn_merges`
    (Kudo 2018, hard-EM variant): seed with the ``num_pieces`` most
    frequent substrings (ties count-desc then piece-lexicographic)
    plus every single character (coverage guarantee), then repeat
    ``em_iters`` times: E-step = Viterbi-segment every vocabulary word
    under current piece probabilities (:func:`viterbi_pieces_kernel`);
    M-step = integer re-count of pieces over the best paths, with a
    count floor of 1 for single characters (coverage smoothing).

    Exactness contract: counts are INTEGERS end-to-end (order-free
    sums), probabilities exist only inside the Viterbi scores as
    ``count / total`` — one correctly-rounded division each — and are
    never shipped; the oracle replays the identical EM rounds as
    unrolled materialized CTEs (the ``text_bpe_learn`` device) with
    per-position DP stages, so the learned (piece, count) table
    matches bit-for-bit cross-engine.

    Scale contract (the BPE discipline): the corpus reduces to
    DISTINCT weighted words first, words longer than ``max_word_len``
    are excluded from training (SentencePiece's max-sentencepiece
    guard), every EM round is ONE Arrow pass over the vocabulary plus
    one piece-count aggregation, and every ``collect()`` is bounded by
    the piece-vocabulary size, never the corpus.

    Returns ``[(piece, count), ...]`` for pieces with final count > 0,
    ordered count-desc then piece-asc.
    """
    work = checkpoint(
        words.filter(F.length(F.col(word_col)) <= max_word_len).select(
            F.col(word_col).alias("w"),
            F.col(count_col).cast("long").alias("cnt"),
        )
    )
    cand = unigram_seed_pieces(work, max_piece_len, "w", "cnt")
    top = (
        cand.orderBy(F.col("freq").desc(), F.col("piece").asc())
        .limit(num_pieces)
        .collect()
    )
    chars = cand.filter(F.length("piece") == 1).collect()
    counts: dict[str, int] = {r["piece"]: int(r["freq"]) for r in top}
    for r in chars:
        counts.setdefault(r["piece"], int(r["freq"]))
    for _ in range(em_iters):
        total = sum(counts.values())
        probs = {p: c / total for p, c in counts.items() if c > 0}
        segmented = work.select(
            F.explode(
                viterbi_pieces_kernel(probs)(F.col("w"))
            ).alias("piece"),
            "cnt",
        )
        used = {
            r["piece"]: int(r["c"])
            for r in segmented.groupBy("piece")
            .agg(F.sum("cnt").alias("c"))
            .collect()
        }
        counts = {
            p: max(used.get(p, 0), 1) if len(p) == 1 else used.get(p, 0)
            for p in counts
        }
    return sorted(
        ((p, c) for p, c in counts.items() if c > 0),
        key=lambda pc: (-pc[1], pc[0]),
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 10,
    top_k: int = 20,
) -> DataFrame:
    """Top-``top_k`` word collocations by pointwise mutual information:
    ``PMI(x,y) = ln( c(x,y)·N / (c_l(x)·c_r(y)) )`` over adjacent word
    pairs, with marginals taken over bigram LEFT and RIGHT positions —
    the classic collocation extractor (Church & Hanks 1990) that
    surfaces "los angeles" over "of the" where raw bigram counts
    cannot.  ``min_count`` drops rare pairs whose PMI is pure noise
    (a hapax pair maxes PMI by construction).

    The ranking NEVER depends on float log precision: candidates order
    by the exact integer cross-ratio ``c(x,y)·N / (c_l(x)·c_r(y))``
    under the portable (double-quotient, numerator, denominator,
    bigram) composite key — the Theil–Sen ordering device — so the
    top-k cut is engine-exact; the shipped ``pmi`` value is then the
    round-6 ln of that exact rational.

    Scale shape: one tokenize+explode pass to (left, right) pairs, one
    count aggregate (the shuffle carries distinct bigrams), marginals
    as window sums partitioned by token over that SAME aggregated
    relation (no second corpus pass), TakeOrderedAndProject for the
    cut.  Returns ``(bigram, pair_count, left_count, right_count,
    pmi)``.
    """
    toked = docs.select(word_tokens(F.col(text_col)).alias("_t"))
    pairs = toked.select(
        F.explode(
            F.when(
                F.size("_t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("_t") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("_t"), i.cast("int")).alias(
                            "l"
                        ),
                        F.element_at(
                            F.col("_t"), (i + 1).cast("int")
                        ).alias("r"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<l:string,r:string>>")
            )
        ).alias("p")
    ).select(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
    counts = pairs.groupBy("l", "r").agg(
        F.count(F.lit(1)).alias("c")
    )
    # N as a broadcast 1-row aggregate, NOT Window.partitionBy(): an
    # empty-partition window funnels every distinct bigram through one
    # task — the single-task-global-window hazard this module's other
    # operators exist to avoid.  The token-marginal windows stay: they
    # partition by token, distributed.
    grand = counts.agg(F.sum("c").alias("n"))
    scored = (
        counts.select(
            "l",
            "r",
            "c",
            F.sum("c").over(Window.partitionBy("l")).alias("cl"),
            F.sum("c").over(Window.partitionBy("r")).alias("cr"),
        )
        .crossJoin(F.broadcast(grand))
        .filter(F.col("c") >= min_count)
    )
    # DECIMAL(38,0) before multiplying: raw long products wrap past
    # ~9.2e18 (a 3e9-bigram corpus with a 1e8-count stopword pair),
    # corrupting the ordering key, the cut, AND the ln value with no
    # error.  DuckDB's SUM already promotes to HUGEINT, so the decimal
    # side restores the cross-engine "exact integer cross-ratio" claim.
    dec = "decimal(38,0)"
    num = F.col("c").cast(dec) * F.col("n")
    den = F.col("cl").cast(dec) * F.col("cr")
    return (
        scored.select(
            F.concat_ws(" ", "l", "r").alias("bigram"),
            F.col("c").alias("pair_count"),
            F.col("cl").alias("left_count"),
            F.col("cr").alias("right_count"),
            num.alias("_num"),
            den.alias("_den"),
            (num.cast("double") / den.cast("double")).alias("_qd"),
        )
        .orderBy(
            F.col("_qd").desc(),
            F.col("_num").desc(),
            F.col("_den").asc(),
            F.col("bigram").asc(),
        )
        .limit(top_k)
        .select(
            "bigram",
            "pair_count",
            "left_count",
            "right_count",
            F.round(F.log(F.col("_qd")), 6).alias("pmi"),
        )
    )
