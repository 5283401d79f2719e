"""Text-analysis entries over ``documents``: profiles, n-grams, TF-IDF,
language ID, unigram language models, collocations, repetition
metrics and the BPE and unigram tokenizers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_validator_spark.operators import rebalance_for_compute as _rb
from big_data_validator_spark.operators import text as T
from big_data_validator_spark.operators.curation import repetition_metrics
from big_data_validator_spark.operators.text import (
    bpe_encode_tokens,
    bpe_learn_merges,
    bpe_oracle_sql_expr,
    bpe_vocab,
    pmi_collocations,
    unigram_learn_vocab,
    unigram_lm_scores,
    viterbi_pieces_kernel,
    word_tokens,
)
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.loader import _t


#: The oracles' stopword-marker counts per language (``s_en`` … ``s_zh``),
#: the features of :func:`~big_data_validator_spark.operators.text.lang_guess`.
_LANG_MARKERS = """
        len(regexp_extract_all(lower(text), '\\b(the|and|of|with|for)\\b')) AS s_en,
        len(regexp_extract_all(lower(text), '\\b(le|la|les|des|est)\\b')) AS s_fr,
        len(regexp_extract_all(lower(text), '\\b(el|los|las|por|una)\\b')) AS s_es,
        len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b')) AS s_de,
        len(regexp_extract_all(lower(text), '\\b(de5|shi4|le5|zai4|you3)\\b')) AS s_zh"""
#: The oracles' mirror of ``lang_guess`` over :data:`_LANG_MARKERS`.
_LANG_GUESS = """
           CASE
             WHEN s_en > 0 AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
             WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
             WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_zh THEN 'es'
             WHEN s_de > 0 AND s_de >= s_zh THEN 'de'
             WHEN s_zh > 0 THEN 'zh'
             ELSE 'unknown'
           END AS lang_guess"""


def _doc_tokens(cols: str = "doc_id,") -> str:
    """The oracles' ``toks`` CTE: each document's ``cols`` and its word
    tokens ``t``, the lower-cased ``[a-z0-9]+`` runs of its text."""
    return f"""
    WITH toks AS (
      SELECT {cols}
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents),"""


def _doc_words(cols: str = "") -> str:
    """The tokenizer oracles' corpus words: one row per lower-cased
    ``[a-z0-9]+`` run ``w`` of each document, after its ``cols``."""
    return f"""
      SELECT {cols}unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS w
      FROM documents"""


def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word tokens ``w`` of the corpus with their counts ``_n``:
    the tokenizer entries' training and encoding input."""
    return (
        _t(spark, sf_dir, "documents")
        .select(F.explode(word_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_n"))
    )


@query(
    "text_profile",
    oracle=f"""
    SELECT doc_id,
           CAST(len(text) AS INT) AS char_count,
           CAST(CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS INT) AS n_tokens,
           CASE WHEN len(text) > 0
                THEN ROUND(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / len(text), 4)
           END AS punct_ratio,
           CASE WHEN len(text) > 0
                THEN ROUND(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / len(text), 4)
           END AS digit_ratio,
           CASE WHEN trim(text) <> ''
                THEN ROUND(CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|with|for)\\b')) AS DOUBLE)
                           / len(regexp_split_to_array(trim(text), '\\s+')), 4)
           END AS stopword_ratio,
           {_LANG_GUESS},
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
    FROM (
      SELECT doc_id, text,{_LANG_MARKERS}
      FROM documents
    )
    """,
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full text-analysis battery — token count, quality ratios,
    language ID, dedup fingerprint — as ONE codegen'd projection over ONE
    scan (the validation-summary trick applied to text ops).  Each feature
    is an independently reusable expression in ``operators/text.py``;
    fusing them here means the 100 TB corpus is read once, not four
    times.  Ratio columns are NULL-guarded for empty/whitespace-only
    documents (division by zero raises under ANSI mode)."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    text = F.col("text")
    toks = T.token_count(text)
    stop = r"\b(the|and|of|with|for)\b"
    nonempty = F.length(text) > 0
    has_tokens = toks > 0
    return docs.select(
        "doc_id",
        F.length(text).alias("char_count"),
        toks.alias("n_tokens"),
        F.when(
            nonempty,
            F.round(F.regexp_count(text, F.lit(r"[^\w\s]")) / F.length(text), 4),
        ).alias("punct_ratio"),
        F.when(
            nonempty,
            F.round(F.regexp_count(text, F.lit(r"[0-9]")) / F.length(text), 4),
        ).alias("digit_ratio"),
        F.when(
            has_tokens,
            F.round(F.regexp_count(F.lower(text), F.lit(stop)) / toks, 4),
        ).alias("stopword_ratio"),
        T.lang_guess(text).alias("lang_guess"),
        T.fingerprint(text).alias("fingerprint"),
    )


@query(
    "text_top_bigrams",
    oracle=f"""{_doc_tokens()}
    bigrams AS (
      SELECT t[i] || ' ' || t[i + 1] AS bigram
      FROM toks, (SELECT unnest(generate_series(1, 100000)) AS i) g
      WHERE i <= len(t) - 1
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS bigram_count
    FROM bigrams GROUP BY bigram
    ORDER BY bigram_count DESC, bigram ASC LIMIT 20
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word bigrams: tokenize (pre-projected so the
    bigram lambda slides over a plain attribute), pairwise-concat via
    ``transform`` over positions, explode, count, TakeOrderedAndProject.
    The shuffle carries (bigram, partial count) pairs — never documents."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    toked = docs.select(T.word_tokens(F.col("text")).alias("t"))
    bigrams = toked.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("t"), i.cast("int")),
                        F.element_at(F.col("t"), (i + 1).cast("int")),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("bigram_count"))
        .orderBy(F.col("bigram_count").desc(), F.col("bigram").asc())
        .limit(20)
    )


@query(
    "text_chunk_windows",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents WHERE len(trim(text)) > 0
    ),
    s AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 80)) AS start
      FROM t
    )
    SELECT doc_id,
           CAST((start - 1) / 80 AS INT) AS chunk_id,
           CAST(len(list_slice(toks, start, start + 99)) AS INT) AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, start, start + 99), ' ')) AS chunk_hash
    FROM s
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (100-token chunks, stride 80) —
    the generator/UDTF-shaped op every LLM training pipeline needs, as a
    pure ``sequence``+``explode``+``slice`` expression: one scan, zero
    shuffles, rows fan out inside codegen (a Python UDTF would move every
    chunk through a Python worker for no semantic gain).  Chunks are
    emitted as md5 hashes so the oracle compare ships digests, not text."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    toks = F.split(F.trim("text"), r"\s+")
    t = docs.filter(F.length(F.trim("text")) > 0).select(
        "doc_id", toks.alias("toks")
    )
    exploded = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(80))
        ).alias("start"),
    )
    chunk = F.slice("toks", F.col("start"), 100)
    return exploded.select(
        "doc_id",
        ((F.col("start") - 1) / 80).cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ").cast("binary")).alias("chunk_hash"),
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id, unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''
             )) AS term
      FROM documents
    ),
    tf AS (
      SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY id, term
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.id, tf.term, tf.tf, dfreq.df,
             ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 4) AS score
      FROM tf JOIN dfreq USING (term), n
    )
    SELECT id, term, tf, df, score, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY id ORDER BY score DESC, term ASC
      ) AS rank FROM scored
    ) WHERE rank <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords over the corpus; tail entry, the
    local mirror verifies the row-exact oracle."""
    docs = _t(spark, sf_dir, "documents")
    return T.tfidf_top_terms(docs)


@query(
    "text_unigram_lm_score",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS w
      FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM words),
    vocab AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS cnt FROM words
              GROUP BY 1 ORDER BY cnt DESC, w ASC LIMIT 10000)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           ROUND(AVG(-log2(COALESCE(cnt, 0.5) / total)), 4) AS lm_score
    FROM words LEFT JOIN vocab USING (w), tot
    GROUP BY doc_id
    """,
)
def text_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram LM quality score per document
    (operators/text.py: unigram_lm_scores): mean −log2 p(word) under
    the corpus unigram distribution — the cheap LM filter run before a
    real LM at corpus scale.  Wordcount-shaped shuffle, bounded
    TakeOrdered vocabulary, broadcast vocab join, one agg back to
    documents; no driver-side vocabulary."""
    d = _t(spark, sf_dir, "documents")
    return unigram_lm_scores(d, "text", "doc_id", vocab_size=10000)


@query(
    "text_langid_confusion",
    oracle=f"""
    WITH scored AS (
      SELECT lang AS lang_actual,{_LANG_MARKERS}
      FROM documents)
    SELECT lang_actual,
           {_LANG_GUESS},
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM scored GROUP BY 1, 2
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of the stopword-marker
    heuristic (operators/text.py: lang_guess) against the labeled
    ``lang`` column — the accuracy audit any classifier-driven
    curation gate needs.  One codegen'd projection + a (langs ×
    langs)-cardinality aggregation; the shuffle carries the matrix,
    not documents."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("lang").alias("lang_actual"),
            T.lang_guess(F.col("text")).alias("lang_guess"),
        )
        .groupBy("lang_actual", "lang_guess")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


#: Merges the BPE entry learns; its oracle unrolls as many stages.
_BPE_MERGES = 8


def _bpe_learn_oracle_sql() -> str:
    """GENERATE the unrolled BPE-LEARNING oracle: ``_BPE_MERGES`` stages
    of (pair-count → argmax → merge-everywhere), each CTE MATERIALIZED —
    without the hint DuckDB inlines every reference and the 3 scalar
    subqueries per stage expand the prefix 3^k times (the first attempt
    died on file handles before it died of arithmetic)."""
    parts = [f"""
    WITH toks AS MATERIALIZED ({_doc_words()}),
    w0 AS MATERIALIZED (
      SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS s,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1)"""]
    for i in range(_BPE_MERGES):
        parts.append(f"""
    p{i} AS MATERIALIZED (
      SELECT pr[1] AS a, pr[2] AS b, SUM(cnt) AS n
      FROM (SELECT unnest(list_zip(sy, sy[2:])) AS pr, cnt
            FROM (SELECT string_split(trim(s, '|'), '||') AS sy, cnt
                  FROM w{i}))
      WHERE pr[2] IS NOT NULL
      GROUP BY 1, 2),
    m{i} AS MATERIALIZED (
      SELECT {i} AS rank, a, b, CAST(n AS BIGINT) AS pair_count
      FROM p{i} ORDER BY n DESC, a ASC, b ASC LIMIT 1),
    w{i + 1} AS MATERIALIZED (
      SELECT replace(s,
                     '|' || (SELECT a FROM m{i}) || '||'
                         || (SELECT b FROM m{i}) || '|',
                     '|' || (SELECT a FROM m{i})
                         || (SELECT b FROM m{i}) || '|') AS s, cnt
      FROM w{i})""")
    final = "\n    UNION ALL\n    ".join(
        f"SELECT * FROM m{i}" for i in range(_BPE_MERGES)
    )
    return ",".join(parts) + "\n    " + final


@query("text_bpe_learn", oracle=_bpe_learn_oracle_sql())
def text_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING on the cluster (operators/text.py:
    bpe_learn_merges — the learn half of the Sennrich loop;
    text_bpe_encode is the apply half): 8 merge rounds over the
    corpus's weighted vocabulary, each round one pair-explode
    aggregation + a one-row argmax collect, ties broken
    count-desc/pair-lexicographic so the result is deterministic in
    any engine.  The oracle replays the loop UNROLLED (8 materialized
    CTE stages of count→argmax→replace) — the two engines run the
    identical algorithm on the identical representation, so the learned
    table matches bit-for-bit.  Scale: corpus reduces to distinct
    (word, count) FIRST; iteration cost is vocabulary-bounded, never
    corpus-bounded."""
    wc = _word_counts(spark, sf_dir)
    merges = bpe_learn_merges(wc, num_merges=_BPE_MERGES)
    return spark.createDataFrame(
        merges, "rank int, a string, b string, pair_count long"
    )


def _bpe_oracle_sql() -> str:
    ids = ", ".join(f"('{t}', {i})" for t, i in bpe_vocab().items())
    return f"""
    WITH words AS ({_doc_words()}),
    toks AS (SELECT unnest({bpe_oracle_sql_expr('w')}) AS token
             FROM words),
    hist AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
             FROM toks GROUP BY 1),
    vocab(token, token_id) AS (VALUES {ids})
    SELECT h.token, v.token_id, h.n_occurrences
    FROM hist h JOIN vocab v USING (token)
    """


@query("text_bpe_encode", oracle=_bpe_oracle_sql())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-pair encoding of the corpus (operators/text.py:
    bpe_encode_tokens): every word token segmented by the rank-ordered
    merge table into BPE symbols, mapped to deterministic token ids,
    and histogrammed — the actual token-cost / packing input an LLM
    pipeline needs (a pre-token count is only a lower bound;
    VERDICT r5 #3).  The merge loop is a pure Catalyst replace-
    expression chain (codegen, no Python) and the DuckDB oracle is
    GENERATED from the same merge table, so both engines run the
    identical algorithm.  Scale shape: words aggregate to DISTINCT
    (word, count) first — encoding cost is bounded by vocabulary, not
    corpus size — then one explode + token aggregation; token ids come
    from a literal map, zero joins on the Spark side."""
    wc = _word_counts(spark, sf_dir)
    toks = wc.select(
        F.explode(bpe_encode_tokens(F.col("w"))).alias("token"), "_n"
    )
    vocab = bpe_vocab()
    id_map = F.create_map(
        *[F.lit(x) for kv in vocab.items() for x in kv]
    )
    return (
        toks.groupBy("token")
        .agg(F.sum("_n").cast("long").alias("n_occurrences"))
        .select(
            "token",
            F.element_at(id_map, F.col("token")).alias("token_id"),
            "n_occurrences",
        )
    )


def _unigram_viterbi_ctes(
    r: str, probs_cte: str, words_cte: str, W: int, L: int
) -> list:
    """Shared Viterbi-segmentation CTE block, prefix ``r``: DP stages
    over ``words_cte`` under ``probs_cte``'s (piece, p) rows — per
    stage a per-length candidate union → windowed argmax with MIN(l)
    tie-break (exactly the kernel's ascending-l strictly-greater
    rule) — then backtrace stages emitting one piece per step, and a
    ``u{r}`` integer piece recount.  Reused by the learn oracle's EM
    rounds AND the encode oracle's final segmentation."""
    parts = [f"""
    d{r}_0 AS MATERIALIZED (
      SELECT w, cnt, CAST(1.0 AS DOUBLE) AS score FROM {words_cte})"""]
    for j in range(1, W + 1):
        branches = []
        for l in range(1, min(L, j) + 1):
            branches.append(
                f"""SELECT d.w, d.cnt, {l} AS l, d.score * p.p AS cand
        FROM d{r}_{j - l} d JOIN {probs_cte} p
          ON p.piece = substr(d.w, {j - l + 1}, {l})
        WHERE len(d.w) >= {j}"""
            )
        union = "\n        UNION ALL\n        ".join(branches)
        parts.append(f"""
    c{r}_{j} AS MATERIALIZED (
        {union}),
    d{r}_{j} AS MATERIALIZED (
      SELECT w, cnt, score, MIN(l) AS bl FROM (
        SELECT w, cnt, l, cand,
               MAX(cand) OVER (PARTITION BY w) AS score
        FROM c{r}_{j})
      WHERE cand = score GROUP BY w, cnt, score)""")
    dd = "\n      UNION ALL\n      ".join(
        f"SELECT w, {j} AS pos, bl FROM d{r}_{j}" for j in range(1, W + 1)
    )
    parts.append(f"""
    dd{r} AS MATERIALIZED (
      {dd}),
    t{r}_0 AS MATERIALIZED (
      SELECT w, cnt, len(w) AS pos FROM {words_cte})""")
    for s in range(1, W + 1):
        parts.append(f"""
    t{r}_{s} AS MATERIALIZED (
      SELECT t.w, t.cnt, t.pos - d.bl AS pos,
             substr(t.w, t.pos - d.bl + 1, d.bl) AS piece
      FROM t{r}_{s - 1} t JOIN dd{r} d
        ON d.w = t.w AND d.pos = t.pos
      WHERE t.pos > 0)""")
    uu = "\n        UNION ALL\n        ".join(
        f"SELECT piece, cnt FROM t{r}_{s}" for s in range(1, W + 1)
    )
    parts.append(f"""
    u{r} AS MATERIALIZED (
      SELECT piece, SUM(cnt) AS uc FROM (
        {uu}) GROUP BY piece)""")
    return parts


#: The unigram entries' trainer settings; their oracles read the same.
_UNIGRAM_PIECES = 48
_UNIGRAM_MAX_PIECE_LEN = 4
_UNIGRAM_EM_ITERS = 2
_UNIGRAM_MAX_WORD_LEN = 12


def _unigram_learn_ctes(
) -> list:
    """GENERATE the unrolled unigram-LM TRAINING CTE chain (the
    ``_bpe_learn_oracle_sql`` device applied to hard-EM): seed CTEs,
    then per EM round a probability CTE (one exact-int-to-DOUBLE
    division per piece), the shared Viterbi block
    (:func:`_unigram_viterbi_ctes`), and the integer recount with the
    single-char floor.  Every float is a chain of correctly-rounded
    IEEE ops over exact integers in pinned order, so DuckDB DOUBLEs
    equal the kernel's Python floats bit-for-bit; only INTEGER counts
    are shipped.  Ends at CTE ``v{em_iters}``."""
    W, L = _UNIGRAM_MAX_WORD_LEN, _UNIGRAM_MAX_PIECE_LEN
    parts = [f"""
    WITH toks AS MATERIALIZED ({_doc_words()}),
    w0 AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks WHERE len(w) <= {W} GROUP BY w),
    cand AS MATERIALIZED (
      SELECT substr(w, s.s, l.l) AS piece, SUM(cnt) AS freq
      FROM w0, generate_series(1, {W}) AS s(s),
           generate_series(1, {L}) AS l(l)
      WHERE s.s + l.l - 1 <= len(w)
      GROUP BY 1),
    top AS MATERIALIZED (
      SELECT piece, freq FROM cand
      ORDER BY freq DESC, piece ASC LIMIT {_UNIGRAM_PIECES}),
    v0 AS MATERIALIZED (
      SELECT piece, CAST(freq AS BIGINT) AS c FROM top
      UNION ALL
      SELECT piece, CAST(freq AS BIGINT) AS c FROM cand
      WHERE len(piece) = 1
        AND piece NOT IN (SELECT piece FROM top))"""]
    for r in range(_UNIGRAM_EM_ITERS):
        parts.append(f"""
    tt{r} AS MATERIALIZED (
      SELECT CAST(SUM(c) AS DOUBLE) AS total FROM v{r}),
    p{r} AS MATERIALIZED (
      SELECT piece, CAST(c AS DOUBLE) / total AS p
      FROM v{r}, tt{r} WHERE c > 0)""")
        parts.extend(_unigram_viterbi_ctes(str(r), f"p{r}", "w0", W, L))
        parts.append(f"""
    v{r + 1} AS MATERIALIZED (
      SELECT v.piece,
             CASE WHEN len(v.piece) = 1
                  THEN GREATEST(COALESCE(u.uc, 0), 1)
                  ELSE COALESCE(u.uc, 0) END AS c
      FROM v{r} v LEFT JOIN u{r} u ON u.piece = v.piece)""")
    return parts


def _unigram_learn_oracle_sql() -> str:
    parts = _unigram_learn_ctes()
    return (
        ",".join(parts)
        + f"""
    SELECT piece, CAST(c AS BIGINT) AS piece_count
    FROM v{_UNIGRAM_EM_ITERS} WHERE c > 0"""
    )


def _unigram_encode_oracle_sql() -> str:
    """GENERATE the unigram ENCODE oracle: the full learn chain up to
    ``v{T}``, then one more probability CTE over the FINAL counts and
    one more shared Viterbi block segmenting the weighted vocabulary
    under them (exactly a further E-step), with deterministic piece
    ids assigned by final-count-desc / piece-asc row number — the same
    rule the Spark entry's literal id map encodes."""
    parts = _unigram_learn_ctes()
    T = _UNIGRAM_EM_ITERS
    parts.append(f"""
    tte AS MATERIALIZED (
      SELECT CAST(SUM(c) AS DOUBLE) AS total FROM v{T}),
    pe AS MATERIALIZED (
      SELECT piece, CAST(c AS DOUBLE) / total AS p
      FROM v{T}, tte WHERE c > 0)""")
    parts.extend(_unigram_viterbi_ctes("e", "pe", "w0", 12, 4))
    parts.append(f"""
    ids AS MATERIALIZED (
      SELECT piece,
             CAST(ROW_NUMBER() OVER (ORDER BY c DESC, piece ASC) - 1
               AS INT) AS piece_id
      FROM v{T} WHERE c > 0)""")
    return (
        ",".join(parts)
        + """
    SELECT u.piece, i.piece_id, CAST(u.uc AS BIGINT) AS n_occurrences
    FROM ue u JOIN ids i ON i.piece = u.piece"""
    )


@query("text_unigram_learn", oracle=_unigram_learn_oracle_sql())
def text_unigram_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING on the cluster (operators/text.py:
    unigram_learn_vocab — the SentencePiece family next to BPE;
    Kudo 2018, hard-EM variant): seed with the 48 most frequent
    substrings up to length 4 plus every character, then 2 EM rounds
    of Viterbi-segment (one Arrow pass over the DISTINCT weighted
    vocabulary) + integer piece recount with a single-character count
    floor.  Probabilities exist only inside the Viterbi scores — one
    ``count/total`` division and one multiplication per DP edge, all
    correctly-rounded IEEE ops over exact integers in pinned order —
    and are never shipped; the oracle replays the identical EM rounds
    UNROLLED as materialized CTEs with per-position DP stages (the
    text_bpe_learn device), so the learned (piece, count) vocabulary
    matches bit-for-bit.  Scale: corpus reduces to distinct (word,
    count) first; every round is vocabulary-bounded, never
    corpus-bounded, and every collect is piece-vocabulary-sized."""
    wc = _word_counts(spark, sf_dir)
    vocab = unigram_learn_vocab(
        wc,
        num_pieces=_UNIGRAM_PIECES,
        max_piece_len=_UNIGRAM_MAX_PIECE_LEN,
        em_iters=_UNIGRAM_EM_ITERS,
        max_word_len=_UNIGRAM_MAX_WORD_LEN,
    )
    return spark.createDataFrame(vocab, "piece string, piece_count long")


@query("text_unigram_encode", oracle=_unigram_encode_oracle_sql())
def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenization of the corpus (the APPLY half of the
    tokenizer family's second member, closing the learn→encode loop
    like text_bpe_learn→text_bpe_encode): retrain the vocabulary
    (deterministic, so both halves agree without a side channel), then
    Viterbi-segment the weighted vocabulary under the FINAL piece
    probabilities — one more Arrow pass, the same pinned-order DP —
    and histogram the emitted pieces with deterministic ids
    (final-count-desc, piece-asc).  The oracle extends the learn
    chain's unrolled CTEs by one probability CTE + one shared Viterbi
    block; token counts are integers end-to-end.  Scale: encoding cost
    is vocabulary-bounded (distinct words), never corpus-bounded; ids
    come from a literal map, zero extra joins Spark-side."""
    wc = _word_counts(spark, sf_dir)
    vocab = unigram_learn_vocab(
        wc,
        num_pieces=_UNIGRAM_PIECES,
        max_piece_len=_UNIGRAM_MAX_PIECE_LEN,
        em_iters=_UNIGRAM_EM_ITERS,
        max_word_len=_UNIGRAM_MAX_WORD_LEN,
    )
    total = sum(c for _, c in vocab)
    probs = {p: c / total for p, c in vocab}
    id_map = F.create_map(
        *[
            F.lit(x)
            for i, (p, _) in enumerate(vocab)
            for x in (p, i)
        ]
    )
    enc = wc.filter(F.length("w") <= 12).select(
        F.explode(viterbi_pieces_kernel(probs)(F.col("w"))).alias(
            "piece"
        ),
        "_n",
    )
    return (
        enc.groupBy("piece")
        .agg(F.sum("_n").cast("long").alias("n_occurrences"))
        .select(
            "piece",
            F.element_at(id_map, F.col("piece")).alias("piece_id"),
            "n_occurrences",
        )
    )


@query(
    "text_pmi_collocations",
    oracle=f"""{_doc_tokens("")}
    pairs AS (
      SELECT t[i] AS l, t[i + 1] AS r
      FROM toks, (SELECT unnest(generate_series(1, 100000)) AS i) g
      WHERE i <= len(t) - 1),
    counts AS (SELECT l, r, COUNT(*) AS c FROM pairs GROUP BY 1, 2),
    marg AS (
      SELECT l, r, c,
             SUM(c) OVER (PARTITION BY l) AS cl,
             SUM(c) OVER (PARTITION BY r) AS cr,
             SUM(c) OVER () AS n
      FROM counts),
    cand AS (
      SELECT l || ' ' || r AS bigram,
             CAST(c AS BIGINT) AS pair_count,
             CAST(cl AS BIGINT) AS left_count,
             CAST(cr AS BIGINT) AS right_count,
             c * n AS num, cl * cr AS den,
             CAST(c * n AS DOUBLE) / CAST(cl * cr AS DOUBLE) AS qd
      FROM marg WHERE c >= 10)
    SELECT bigram, pair_count, left_count, right_count,
           ROUND(LN(qd), 6) AS pmi
    FROM cand
    ORDER BY qd DESC, num DESC, den ASC, bigram ASC
    LIMIT 20
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information
    (operators/text.py: pmi_collocations — Church & Hanks 1990):
    PMI = ln(c(x,y)·N / (c_l(x)·c_r(y))) over adjacent word pairs with
    a min-count floor, the extractor that surfaces "los angeles" over
    "of the" where raw bigram counts cannot.  The top-k cut orders by
    the EXACT integer cross-ratio under the portable (double-quotient,
    num, den, bigram) composite key — the ts_theilsen_trend ordering
    device — so no float-log precision ever decides the cut; ln enters
    only the shipped round-6 value.  One tokenize pass, one
    distinct-bigram shuffle, marginals as window sums over that same
    aggregated relation, TakeOrderedAndProject."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    return pmi_collocations(docs, min_count=10, top_k=20)


@query(
    "text_repetition_metrics",
    oracle=f"""{_doc_tokens("doc_id, text,")}
    base AS (
      SELECT doc_id, text, t, CAST(len(t) AS BIGINT) AS n,
             CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT)
               AS tchars
      FROM toks WHERE len(t) > 0),
    lines0 AS (
      SELECT doc_id,
             trim(unnest(regexp_split_to_array(text,
                  '[.!?]+\\s+|\\n+'))) AS l
      FROM base),
    lc AS (
      SELECT doc_id, l, CAST(COUNT(*) AS BIGINT) AS c
      FROM lines0 WHERE l <> '' GROUP BY 1, 2),
    lstats AS (
      SELECT doc_id, SUM(c) AS n_lines,
             SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dl,
             SUM(c * len(l)) AS lch,
             SUM(CASE WHEN c >= 2 THEN c * len(l) ELSE 0 END) AS dlch
      FROM lc GROUP BY 1),
    g2c AS (
      SELECT doc_id, array_to_string(t[s:s+1], ' ') AS g,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM base, unnest(generate_series(1, len(t) - 1)) AS u(s)
      GROUP BY 1, 2),
    topg AS (
      SELECT doc_id, c * (len(g) - 1) AS topch
      FROM (SELECT doc_id, g, c,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY c DESC, g ASC) AS rn
            FROM g2c) WHERE rn = 1),
    g5 AS (
      SELECT doc_id, s AS p, array_to_string(t[s:s+4], ' ') AS g
      FROM base, unnest(generate_series(1, len(t) - 4)) AS u(s)),
    g5dup AS (
      SELECT doc_id, g FROM g5 GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    cov AS (
      SELECT DISTINCT g5.doc_id, g5.p + d.d AS i
      FROM g5 JOIN g5dup USING (doc_id, g),
           unnest(generate_series(0, 4)) AS d(d)),
    tok AS (
      SELECT doc_id, unnest(t) AS w,
             unnest(generate_series(1, len(t))) AS i
      FROM base),
    covch AS (
      SELECT tok.doc_id, SUM(len(w)) AS covch
      FROM tok JOIN cov ON tok.doc_id = cov.doc_id AND tok.i = cov.i
      GROUP BY 1)
    SELECT base.doc_id AS id, base.n AS n_tokens,
           CAST(COALESCE(l.n_lines, 0) AS BIGINT) AS n_lines,
           CAST((COALESCE(l.dl, 0) * 1000000)
                // GREATEST(COALESCE(l.n_lines, 0), 1) AS BIGINT)
             AS dup_line_frac_ppm,
           CAST((COALESCE(l.dlch, 0) * 1000000)
                // GREATEST(COALESCE(l.lch, 0), 1) AS BIGINT)
             AS dup_line_char_frac_ppm,
           CAST((COALESCE(tg.topch, 0) * 1000000)
                // GREATEST(base.tchars, 1) AS BIGINT)
             AS top2gram_char_frac_ppm,
           CAST((COALESCE(cc.covch, 0) * 1000000)
                // GREATEST(base.tchars, 1) AS BIGINT)
             AS dup5gram_char_frac_ppm
    FROM base LEFT JOIN lstats l USING (doc_id)
    LEFT JOIN topg tg USING (doc_id)
    LEFT JOIN covch cc USING (doc_id)
    """,
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Gopher repetition suite (operators/curation.py:
    repetition_metrics — Rae et al. 2021 §A1.1): duplicate-line
    fraction by count and by characters (sentence/newline split),
    top-2-gram character share, and the overlap-once character
    COVERAGE of duplicated word 5-grams — the line/n-gram originals
    the paper gates on, beside word_quality_metrics' word-level
    analogs already shipped.  All fractions are exact ppm integers
    over the shared token-character denominator; the dup-gram leg
    reuses the excision coverage device (positioned gram explode →
    within-doc dup filter → coverage distinct → token join), so every
    shuffle is bounded by corpus token/line count.  Oracle: DuckDB
    recomputes every metric from the same deterministic relations."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    return repetition_metrics(docs, top_ngram=2)
