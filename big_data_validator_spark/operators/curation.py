"""Corpus-curation operators: repetition/quality filters (Gopher-style),
PII scanning/redaction, and benchmark-contamination probes.

These are pre-training data-quality gates, the document-level siblings of
the row-level rules in operators/rules.py.  Every per-document metric here
is ROW-LOCAL — array higher-order functions and regexes inside whole-stage
codegen, zero shuffle, no Python in the hot path — so the cost at 100 TB
is exactly one scan of the text column.  Only the contamination probe
joins anything, and its probe side is a broadcast.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_validator_spark.operators import pin

# --------------------------------------------------------------- quality

#: Gopher-style repetition/length gates (Rae et al. 2021, "Scaling
#: Language Models: ...Gopher", §A1.1 data pipeline) re-parameterized:
#: the paper's thresholds assume web prose.
QUALITY_THRESHOLDS = {
    "min_words": 20,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_dup_word_frac": 0.55,
    "max_top_word_frac": 0.20,
}


def _words(text_col: str) -> Column:
    # explicit empty-string filter: split behavior around leading /
    # trailing / doubled separators differs across engines; after the
    # filter both agree.
    return F.expr(f"filter(split({text_col}, ' '), x -> x != '')")


def word_quality_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
) -> DataFrame:
    """Per-document repetition/length metrics, all computed inside one
    projection over the word array (no explode, no shuffle):

    - ``n_words``; ``mean_word_len``;
    - ``dup_word_frac`` — ``1 − distinct/total``, the word-level analog
      of Gopher's duplicate-line fraction;
    - ``top_word_frac`` — most frequent word's share, the word-level
      analog of the top-n-gram fraction.

    The top-word count is ``O(distinct × n)`` per row via nested array
    lambdas — fine for documents (n ≤ 10^4 words); it stays row-local
    precisely so a 100 TB corpus never shuffles (doc, word) pairs just
    to compute a per-doc ratio.

    Fractions are EXACT integer rationals quantized to 6 decimals with
    explicit half-up division (``(2·10^6·num + den) div (2·den)``) —
    never ``round(double, 6)``, which ties on rationals whose decimal
    expansion terminates at exactly 7 digits ending in 5 (e.g. any
    k/128), where Spark's HALF_UP and an oracle engine's half-even
    disagree.
    """

    w = _words(text_col)
    out = df.select(
        *id_cols,
        w.alias("_w"),
    ).select(
        *id_cols,
        F.size("_w").cast("long").alias("n_words"),
        F.col("_w"),
        F.greatest(F.size("_w"), F.lit(1)).cast("long").alias("_den"),
    )
    return out.select(
        *id_cols,
        "n_words",
        F.expr(
            "cast((2000000 * aggregate(_w, 0L, (acc, x) -> acc +"
            " length(x)) + _den) div (2 * _den) as double) / 1000000.0"
        ).alias("mean_word_len"),
        (
            # numerator is the TRUE duplicate count size - distinct (an
            # empty doc has 0 duplicate words, not 1); only the
            # denominator is floored at 1 to keep the division defined
            # (ADVICE r5)
            F.expr(
                "cast((2000000 * (size(_w) -"
                " size(array_distinct(_w))) + _den) div (2 * _den)"
                " as double) / 1000000.0"
            )
        ).alias("dup_word_frac"),
        F.expr(
            "cast((2000000 * coalesce(array_max(transform("
            "array_distinct(_w), w -> size(filter(_w, x -> x = w)))),"
            " 0) + _den) div (2 * _den) as double) / 1000000.0"
        ).alias("top_word_frac"),
    )


def gopher_quality_flags(metrics: DataFrame) -> DataFrame:
    """Per-rule boolean gates + the conjunctive ``quality_pass`` over a
    :func:`word_quality_metrics` frame.  One more codegen projection."""
    t = QUALITY_THRESHOLDS
    flags = {
        "pass_n_words": (F.col("n_words") >= t["min_words"])
        & (F.col("n_words") <= t["max_words"]),
        "pass_word_len": (F.col("mean_word_len") >= t["min_mean_word_len"])
        & (F.col("mean_word_len") <= t["max_mean_word_len"]),
        "pass_dup_words": F.col("dup_word_frac") <= t["max_dup_word_frac"],
        "pass_top_word": F.col("top_word_frac") <= t["max_top_word_frac"],
    }
    out = metrics
    for name, expr in flags.items():
        out = out.withColumn(name, expr)
    conj = flags["pass_n_words"]
    for name in ("pass_word_len", "pass_dup_words", "pass_top_word"):
        conj = conj & F.col(name)
    return out.withColumn("quality_pass", conj)


_LINE_SEP = r"[.!?]+\s+|\n+"
_DUP_NGRAM = 5


def repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ngram: int = 2,
) -> DataFrame:
    """The FULL Gopher repetition suite (Rae et al. 2021 §A1.1) —
    :func:`word_quality_metrics` ships the word-level analogs; these
    are the line- and n-gram-level originals the paper actually gates
    on, per document:

    - ``n_lines`` / ``dup_line_frac_ppm`` / ``dup_line_char_frac_ppm``
      — lines (``_LINE_SEP`` regex split, trimmed, empties dropped; the
      default splits sentences and newlines) belonging to a
      within-document duplicate group, by count and by characters;
    - ``top{n}gram_char_frac_ppm`` — characters claimed by the single
      most frequent word ``top_ngram``-gram (count × token chars of
      the gram; ties break to the lexicographically smallest gram);
    - ``dup{n}gram_char_frac_ppm`` — characters COVERED by word
      ``_DUP_NGRAM``-grams occurring ≥2 times in the document —
      overlap-once coverage semantics (the union of [p, p+n−1] token
      positions), not a double-counting sum.

    Char fractions are defined over TOKEN characters (Σ len(token);
    separators excluded) so both engines share one exact denominator;
    every fraction ships as the established exact ppm integer
    ``(num · 10⁶) div den``.  Docs with ≥1 token are returned.

    Scale shape: the line leg is one (doc, line) partial agg + one
    per-doc agg; the top-gram leg one (doc, gram) agg + a per-doc
    rank-1 window; the dup-gram leg reuses the excision coverage
    device (positioned gram explode → within-doc dup filter →
    coverage distinct → token join) — every shuffle bounded by corpus
    token/line count, nothing pairwise, no Python.
    """
    from big_data_validator_spark.operators import rebalance_for_compute
    from big_data_validator_spark.operators.text import word_tokens

    if top_ngram < 1:
        raise ValueError(f"ngram sizes must be >= 1, got top={top_ngram}")
    from pyspark.sql import Window as W

    base = (
        rebalance_for_compute(df)
        .select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("_txt"),
            word_tokens(F.col(text_col)).alias("_t"),
        )
        .filter(F.size("_t") > 0)
        .select(
            "id",
            "_txt",
            "_t",
            F.size("_t").cast("long").alias("n_tokens"),
            F.aggregate(
                F.transform(F.col("_t"), lambda x: F.length(x)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("_tchars"),
        )
    )
    pin(base)

    # ---- line leg
    lines = (
        base.select(
            "id", F.explode(F.split("_txt", _LINE_SEP)).alias("_l0")
        )
        .select("id", F.trim(F.col("_l0")).alias("_l"))
        .filter(F.col("_l") != "")
    )
    lc = lines.groupBy("id", "_l").agg(F.count(F.lit(1)).alias("_c"))
    lstats = lc.groupBy("id").agg(
        F.sum("_c").cast("long").alias("n_lines"),
        F.sum(F.when(F.col("_c") >= 2, F.col("_c")).otherwise(0))
        .cast("long")
        .alias("_dl"),
        F.sum(F.col("_c") * F.length("_l")).cast("long").alias("_lch"),
        F.sum(
            F.when(
                F.col("_c") >= 2, F.col("_c") * F.length("_l")
            ).otherwise(0)
        )
        .cast("long")
        .alias("_dlch"),
    )

    def grams(n: int) -> DataFrame:
        return (
            base.filter(F.size("_t") >= n)
            .select(
                "id",
                "_t",
                F.explode(
                    F.sequence(F.lit(1), F.size("_t") - F.lit(n - 1))
                ).alias("_p"),
            )
            .select(
                "id",
                "_p",
                F.expr(
                    f"concat_ws(' ', slice(_t, _p, {int(n)}))"
                ).alias("_g"),
            )
        )

    # ---- top n-gram leg: chars = count * token chars of the gram
    # (gram string length minus its n-1 separator spaces)
    topg = (
        grams(top_ngram)
        .groupBy("id", "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("id").orderBy(
                    F.col("_c").desc(), F.col("_g").asc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "id",
            (
                F.col("_c")
                * (F.length("_g") - F.lit(top_ngram - 1))
            )
            .cast("long")
            .alias("_topch"),
        )
    )

    # ---- dup n-gram coverage leg (the excision coverage device)
    dg = grams(_DUP_NGRAM)
    ddup = (
        dg.groupBy("id", "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("id", "_g")
    )
    cov = (
        dg.join(ddup, ["id", "_g"])
        .select(
            "id",
            F.explode(
                F.sequence(
                    F.col("_p"), F.col("_p") + F.lit(_DUP_NGRAM - 1)
                )
            ).alias("_i"),
        )
        .distinct()
    )
    tokrows = base.select(
        "id", F.posexplode("_t").alias("_i0", "_w")
    ).select("id", (F.col("_i0") + 1).alias("_i"), F.length("_w").alias("_wl"))
    covch = (
        tokrows.join(cov, ["id", "_i"])
        .groupBy("id")
        .agg(F.sum("_wl").cast("long").alias("_covch"))
    )

    ppm = lambda num, den: F.expr(f"({num} * 1000000L) div greatest({den}, 1L)")
    return (
        base.select("id", "n_tokens", "_tchars")
        .join(lstats, "id", "left")
        .join(topg, "id", "left")
        .join(covch, "id", "left")
        .select(
            "id",
            "n_tokens",
            F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
            ppm("coalesce(_dl, 0L)", "coalesce(n_lines, 0L)").alias(
                "dup_line_frac_ppm"
            ),
            ppm("coalesce(_dlch, 0L)", "coalesce(_lch, 0L)").alias(
                "dup_line_char_frac_ppm"
            ),
            ppm("coalesce(_topch, 0L)", "_tchars").alias(
                f"top{int(top_ngram)}gram_char_frac_ppm"
            ),
            ppm("coalesce(_covch, 0L)", "_tchars").alias(
                f"dup{_DUP_NGRAM}gram_char_frac_ppm"
            ),
        )
    )


# ------------------------------------------------------------------- PII

#: Engine-portable patterns: every construct here (classes, {m,},
#: alternation) means the same thing in Java regex (Spark) and RE2
#: (DuckDB oracle) — no lookaround, no backreferences.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9 -]{7,}[0-9]",
}


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ``n_<name>`` match counts per :data:`PII_PATTERNS`
    pattern and a ``redacted`` text column where each match is replaced by
    ``<NAME>``.  Patterns apply in dict order — order matters when
    patterns overlap (an email's digit run could also match a phone
    pattern), so BOTH the counts and the redaction run against the
    PREVIOUS pattern's redacted output: ``n_phone`` counts phones that
    survive email redaction, never an email's digits twice, and every
    count equals the number of ``<NAME>`` tokens in ``redacted``.
    Pure ``regexp_count`` / ``regexp_replace`` projections: row-local,
    codegen'd, one scan at any corpus size.
    """
    out = df
    red = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(f"n_{name}", F.regexp_count(red, F.lit(pat)))
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return out.withColumn("redacted", red)


# --------------------------------------------------------- contamination


def contamination_probe_counts(
    corpus: DataFrame,
    probes: DataFrame,
    corpus_id_col: str,
    text_col: str = "text",
    probe_col: str = "probe",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """For each probe string (e.g. a benchmark question / answer
    snippet), count corpus documents containing it as an EXACT
    substring — the standard train/test contamination screen.

    Shape: ``broadcast(probes)`` × one corpus scan with
    ``instr(text, probe) > 0`` — a broadcast nested-loop join, which is
    the right plan when probes are a benchmark suite (10^2–10^4
    strings) and the corpus is 100 TB: no shuffle of the corpus, cost
    is scan × |probes| substring searches, all JVM-side.

    A document whose ``corpus_id_col`` equals the probe's
    ``probe_id_col`` is excluded (a probe drawn from the corpus should
    not count itself).  Returns one row per probe:
    ``(probe_id_col, n_contaminated)`` — probes with zero hits
    included, so the output size is always ``|distinct probes|``.

    Probe rows are deduplicated on ``(probe_id, probe)`` first: a
    repeated probe row must not double-count its hits (ADVICE r5).
    """
    probes = probes.select(probe_id_col, probe_col).dropDuplicates(
        [probe_id_col, probe_col]
    )
    p = F.broadcast(probes)
    cond = (F.instr(F.col(text_col), F.col(probe_col)) > 0) & (
        F.col(corpus_id_col) != F.col(probe_id_col)
    )
    hits = (
        corpus.crossJoin(p)
        .filter(cond)
        .groupBy(probe_id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated"))
    )
    # hits has at most |probes| rows — broadcast it so the zero-hit
    # fill-in never shuffles the probe table either
    return (
        probes.select(probe_id_col).distinct()
        .join(F.broadcast(hits), probe_id_col, "left")
        .select(
            probe_id_col,
            F.coalesce(F.col("n_contaminated"), F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
        )
    )


def k_anonymity_violations(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int,
    sensitive_col: str,
    l: int,
) -> DataFrame:
    """Privacy audit for training-data release: quasi-identifier groups
    smaller than ``k`` (re-identification risk — Sweeney's k-anonymity)
    and groups whose ``sensitive_col`` takes fewer than ``l`` distinct
    values (attribute disclosure — Machanavajjhala's l-diversity; a
    10-member group that all share one diagnosis is k-anonymous and
    still leaks it).

    One aggregation pass: groupBy the quasi-identifiers with map-side
    partial counts; the shuffle carries (QI, count, distinct-sensitive)
    partial states, never rows.  Returns one row per VIOLATING group —
    ``(quasi_cols..., group_size, sensitive_diversity, violations)``
    where ``violations`` is the sorted array of failed rules — so the
    releasing pipeline can suppress or generalize exactly those groups.
    """
    g = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.count_distinct(F.col(sensitive_col))
        .cast("long")
        .alias("sensitive_diversity"),
    )
    checks = [
        F.when(F.col("group_size") < k, F.lit("k_anonymity")),
        F.when(F.col("sensitive_diversity") < l, F.lit("l_diversity")),
    ]
    out = g.withColumn(
        "violations",
        F.array_sort(
            F.filter(F.array(*checks), lambda x: x.isNotNull())
        ),
    )
    return out.filter(F.size("violations") > 0)


def contamination_ngram_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    n_words: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    flag_threshold: float = 0.1,
) -> DataFrame:
    """Benchmark-contamination screen by word-n-gram COLLISION RATE —
    the GPT-3/PaLM "dirty document" method (Brown et al. 2020, App. C):
    a training document is dirty in proportion to how many of its
    ``n_words``-grams also appear in the evaluation benchmark.  This
    catches paraphrased-layout and partial overlaps the exact-substring
    probe screen (:func:`contamination_probe_counts`) misses, because
    ANY shared 13-gram counts — not only whole probes.

    The benchmark's distinct n-gram set is the small side by
    construction (benchmarks are thousands of items, corpora are
    billions), so the collision join BROADCASTS it and the corpus
    streams ONCE: explode each doc's distinct n-grams (lowercase
    alnum-run tokens, the text-family rule), inner-join the broadcast
    set, count per doc, and join counts back to per-doc gram totals.
    At 10^6+ benchmark grams, use :func:`contamination_ngram_bloom` —
    the Bloom-prefilter + exact-confirm sibling that computes the
    identical result without broadcasting the gram set.

    Returns ``(id, n_grams, n_dirty, dirty_frac, flagged)`` for every
    document with at least one n-gram (docs shorter than ``n_words``
    words have no grams and are trivially clean — they are excluded,
    matching the published method's defined-only denominator).
    ``dirty_frac`` rounds to 6; ``flagged`` is the ``>= flag_threshold``
    verdict.
    """
    bench_grams = F.broadcast(
        _word_ngram_rows(
            benchmark.select(
                F.lit(0).alias("_bid"), F.col(bench_text_col)
            ),
            bench_text_col,
            "_bid",
            n_words,
        ).select("_g").distinct()
    )
    # codegen row-form grams (see _word_ngram_rows); pinned because
    # BOTH the per-doc sizes and the collision counts consume it
    doc_grams = _word_ngram_rows(docs, text_col, id_col, n_words)
    pin(doc_grams)
    sizes = doc_grams.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    hits = (
        doc_grams.join(bench_grams, "_g")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dirty"))
    )
    frac = F.coalesce(F.col("n_dirty"), F.lit(0)) / F.col("n_grams")
    return sizes.join(hits, "id", "left").select(
        "id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.coalesce(F.col("n_dirty"), F.lit(0))
        .cast("long")
        .alias("n_dirty"),
        F.round(frac, 6).alias("dirty_frac"),
        (frac >= F.lit(float(flag_threshold))).alias("flagged"),
    )


def _word_ngrams_expr(col, n_words: int):
    """Distinct lowercase word ``n_words``-grams of a text column (the
    text-family tokenization), NULL for docs shorter than ``n_words``
    words — the per-doc ARRAY form (kept for array consumers and
    tests; the contamination hot paths use :func:`_word_ngram_rows`,
    the codegen row form of the same relation)."""
    from big_data_validator_spark.operators.text import word_tokens

    toks = word_tokens(col)
    return F.when(
        F.size(toks) >= n_words,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n_words - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n_words)),
            )
        ),
    )


def _word_ngram_rows(
    df: DataFrame, text_col: str, id_col: str, n_words: int
) -> DataFrame:
    """(id, _g) DISTINCT word-``n_words``-gram ROWS — the exploded twin
    of :func:`_word_ngrams_expr` for consumers that join/count grams:
    positions explode FIRST (a codegen Generate) and the
    ``concat_ws(slice(...))`` gram builder runs whole-stage-compiled
    per row instead of inside an interpreted array HOF — measured 12×
    faster at sf1.0 (100 s → 7 s for the same 2.15M distinct grams on
    the contamination screen's corpus side).  Docs shorter than
    ``n_words`` words contribute no rows (the defined-only-denominator
    exclusion).  Identical relation to exploding the array form."""
    from big_data_validator_spark.operators.text import word_tokens

    return (
        df.select(
            F.col(id_col).alias("id"),
            word_tokens(F.col(text_col)).alias("_t"),
        )
        .filter(F.size("_t") >= n_words)
        .select(
            "id",
            "_t",
            F.explode(
                F.sequence(F.lit(1), F.size("_t") - F.lit(n_words - 1))
            ).alias("_i"),
        )
        .select(
            "id",
            F.expr(f"concat_ws(' ', slice(_t, _i, {int(n_words)}))").alias(
                "_g"
            ),
        )
        .distinct()
    )


def linear_quality_scores(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_ppm: int = 0,
    bucket_col: str = "bucket",
    weight_col: str = "weight",
) -> DataFrame:
    """fastText-style LINEAR quality-classifier inference (Joulin et
    al. 2016 — the bag-of-hashed-ngrams linear model; CCNet, Wenzek et
    al. 2020, pairs exactly this classifier with the unigram-LM
    perplexity score for corpus curation): each token hashes into one
    of ``n_buckets`` feature buckets, the document's score is the MEAN
    bucket weight — the linear layer's logit, monotone in the sigmoid,
    so a ppm threshold on it IS a probability cut.

    Engine-exact by construction: the bucket hash is the portable md5
    device (first 8 md5 hex digits as an integer, mod ``n_buckets`` —
    the sampling family's digest, reproducible in any engine), weights
    are INTEGERS, and the mean ships as ``score_ppm = (Σw · 10⁶) div
    n_tokens`` — Spark ``div`` and DuckDB integer ``//`` both truncate
    toward zero, so negative means quantize identically.

    The plan is ZERO-SHUFFLE: the weight table (≤ ``n_buckets`` rows —
    2M buckets = one 16 MB array, fastText's own default) collapses
    into ONE broadcast array row, and scoring is a row-local
    ``transform``+``aggregate`` fold over the token array — no explode,
    no join per token, no Python; inference is pure whole-stage
    codegen over the corpus scan.  Docs with zero tokens are excluded
    (defined-only denominator, the contamination-screen convention).

    ``weights``: ``(bucket, weight)`` integer relation; missing buckets
    weigh 0.  Returns ``(id, n_tokens, score_ppm, flagged)`` with
    ``flagged = score_ppm >= threshold_ppm``.
    """
    from big_data_validator_spark.operators.text import word_tokens

    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    wrows = weights.select(
        F.col(bucket_col).cast("long").alias("_b"),
        F.col(weight_col).cast("long").alias("_w"),
    ).collect()
    wvec = [0] * n_buckets
    for r in wrows:
        if not 0 <= r["_b"] < n_buckets:
            raise ValueError(
                f"bucket {r['_b']} outside [0, {n_buckets})"
            )
        wvec[r["_b"]] = r["_w"]
    spark = docs.sparkSession
    wdf = spark.createDataFrame([(wvec,)], "_wvec array<long>")

    def bucket(tok):
        return F.pmod(
            F.conv(
                F.substring(F.md5(F.encode(tok, "UTF-8")), 1, 8), 16, 10
            ).cast("long"),
            F.lit(n_buckets),
        )

    toks = word_tokens(F.col(text_col))
    sum_w = F.aggregate(
        F.transform(
            F.col("_toks"),
            lambda t: F.element_at(
                F.col("_wvec"), bucket(t).cast("int") + 1
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        docs.select(
            F.col(id_col).alias("id"), toks.alias("_toks")
        )
        .filter(F.size("_toks") > 0)
        .crossJoin(F.broadcast(wdf))
        .select(
            "id",
            F.size("_toks").cast("long").alias("n_tokens"),
            sum_w.alias("_sw"),
        )
        .select(
            "id",
            "n_tokens",
            # Spark `div` and DuckDB integer `//` both truncate toward
            # zero, so negative mean weights quantize identically
            F.expr("(_sw * 1000000L) div n_tokens").alias("score_ppm"),
        )
        .withColumn(
            "flagged", F.col("score_ppm") >= F.lit(int(threshold_ppm))
        )
    )


_LABEL_SCALE = 1_000_000


def linear_quality_train(
    docs: DataFrame,
    label_pred,
    n_buckets: int,
    steps: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """fastText-style linear quality-classifier TRAINING (the learn
    half of the CCNet pairing whose inference half is
    :func:`linear_quality_scores`): integer weights learned by
    ``steps`` FULL-BATCH gradient steps of squared-loss regression on
    the mean-hashed-bucket-weight score, labels from ``label_pred``
    over the id column (CCNet's recipe: positives = the target slice,
    negatives = the rest of the corpus).

    Exact by construction — the established unrolled-iteration oracle
    device (the EM / exact-int k-means trainers): every step is pure
    integer arithmetic with TRUNCATING division at three defined
    points, so any engine replaying the rules gets bit-identical
    weights and the oracle is the steps UNROLLED as CTEs:

    - score_d  = Σ_b c_{d,b}·w_b               (exact int sum)
    - resid_d  = (score_d div n_d) − y_d·label_scale
    - grad_b   = Σ_d ((resid_d · c_{d,b}) div n_d)   (per-term div)
    - w_b     ← w_b − (grad_b div N)           (truncating, both signs)

    with w ≡ 0 at init (no RNG), the portable md5 bucket hash, and N
    the training-document count (the 1/N step size that keeps
    full-batch squared loss stable when per-doc features sum to ~1, as
    normalized bag-of-buckets features do).

    Scale: the per-(doc, bucket) count frame builds once (one explode
    + one partial-agg shuffle, bounded by corpus token count) and
    persists across steps; each step is two bounded aggregations and a
    key join on that frame, plus one ≤``n_buckets``-row gradient
    collect (the bounded-vocabulary collect class) — no per-token
    Python, no driver state beyond the weight vector fastText itself
    holds in RAM.  Returns the learned ``(bucket, weight)`` integer
    relation (nonzero weights only) — directly consumable by
    :func:`linear_quality_scores`.
    """
    from big_data_validator_spark.operators.similarity import _tdiv
    from big_data_validator_spark.operators.text import word_tokens

    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    if steps < 1:
        raise ValueError(f"steps must be >= 1, got {steps}")
    spark = docs.sparkSession

    def bucket(tok):
        return F.pmod(
            F.conv(
                F.substring(F.md5(F.encode(tok, "UTF-8")), 1, 8), 16, 10
            ).cast("long"),
            F.lit(n_buckets),
        )

    feats = (
        docs.select(
            F.col(id_col).alias("_id"),
            label_pred(F.col(id_col)).cast("long").alias("_y"),
            word_tokens(F.col(text_col)).alias("_t"),
        )
        .filter(F.size("_t") > 0)
        .select(
            "_id",
            "_y",
            F.size("_t").cast("long").alias("_n"),
            F.explode("_t").alias("_tok"),
        )
        .select("_id", "_y", "_n", bucket(F.col("_tok")).alias("_b"))
        .groupBy("_id", "_y", "_n", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # cache at an input-size-adaptive partition count: AQE cannot
    # coalesce inside a cached plan, so without this every per-step
    # job over the cached frame runs at full shuffle-partition fan-out
    # even for a tiny corpus (guide §2: scale-adaptive partitioning)
    from big_data_validator_spark.operators import adaptive_partitions

    feats = pin(feats.repartition(adaptive_partitions(docs), "_id"))
    n_docs = feats.select(
        F.countDistinct("_id").alias("_nd")
    ).first()["_nd"]
    if n_docs == 0:
        raise ValueError(
            "linear_quality_train: no training documents with "
            "tokens"
        )
    div = int(n_docs)
    wvec = [0] * n_buckets
    for _ in range(steps):
        wtab = spark.createDataFrame(
            [(b, w) for b, w in enumerate(wvec) if w != 0],
            "_b long, _w long",
        )
        resid = (
            feats.join(F.broadcast(wtab), "_b", "left")
            .groupBy("_id", "_y", "_n")
            .agg(
                F.sum(
                    F.col("_c") * F.coalesce(F.col("_w"), F.lit(0))
                ).alias("_sw")
            )
            .select(
                "_id",
                F.expr(
                    f"(_sw div _n) - _y * {_LABEL_SCALE}L"
                ).alias("_r"),
            )
        )
        grad = (
            feats.join(resid, "_id")
            .groupBy("_b")
            .agg(F.sum(F.expr("(_r * _c) div _n")).alias("_g"))
            .collect()
        )
        for row in grad:
            wvec[int(row["_b"])] -= _tdiv(int(row["_g"]), div)
    return spark.createDataFrame(
        [(b, w) for b, w in enumerate(wvec) if w != 0],
        "bucket long, weight long",
    )


def dsir_importance_weights(
    docs: DataFrame,
    target_pred,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR; Xie et al. 2023)
    importance weights over HASHED n-gram features — the public recipe
    for selecting raw-corpus documents that look like a target domain
    without training a model: fit unigram feature distributions on the
    target slice and on the raw pool, then weight each raw document by
    its mean per-feature log-likelihood ratio
    ``avg_f [ln p_target(f) − ln p_raw(f)]`` (the paper resamples by
    the summed ratio; the mean is the length-normalized form, which
    keeps the score comparable across document lengths — the same
    normalization the unigram-LM score ships).

    Features are word UNIGRAMS AND BIGRAMS hashed into ``n_buckets``
    via the portable md5 device (the paper's hashed n-gram
    parameterization, engine-reproducible here).  Feature rows build
    as ONE codegen Generate — positions 1..2n−1 explode first and an
    ``element_at``/``concat_ws`` conditional constructs the feature
    per row (r13: the interpreted transform-lambda array builder was
    the 9× hot spot the r12 cache leak had been masking; this is the
    same exploded-row rewrite the contamination screens took in r12).
    Two aggregations: one (bucket)-keyed count frame over both sides
    (a ≤``n_buckets``-row result that BROADCASTS back), one
    per-document mean.  Probabilities smooth as
    ``(cnt + 0.5) / side_total``; the score rounds to 4 (the
    float-sum-order tolerance every log-family entry uses).

    Returns ``(id, n_feats, dsir_score)`` for RAW (non-target) docs
    with ≥1 feature; higher = more target-like.
    """
    from big_data_validator_spark.operators.text import word_tokens

    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    toks = word_tokens(F.col(text_col))
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.encode(F.col("_f"), "UTF-8")), 1, 8),
            16,
            10,
        ).cast("long"),
        F.lit(n_buckets),
    )
    # One codegen Generate: positions 1..n are the unigrams, positions
    # n+1..2n-1 the bigrams starting at _i - n — the same (id, feature)
    # multiset the array-concat form produced, never materializing the
    # per-doc feature array through an interpreted lambda.
    feats = (
        docs.select(
            F.col(id_col).alias("id"),
            target_pred(F.col(id_col)).alias("_is_target"),
            toks.alias("_toks"),
        )
        .filter(F.size("_toks") > 0)
        .select(
            "id",
            "_is_target",
            "_toks",
            F.explode(
                F.sequence(F.lit(1), F.size("_toks") * 2 - 1)
            ).alias("_i"),
        )
        .select(
            "id",
            "_is_target",
            F.expr(
                "if(_i <= size(_toks), element_at(_toks, _i),"
                " concat_ws(' ', element_at(_toks, _i - size(_toks)),"
                " element_at(_toks, _i - size(_toks) + 1)))"
            ).alias("_f"),
        )
        .withColumn("_b", bucket)
        .drop("_f")
    )
    pin(feats)
    counts = feats.groupBy("_b").agg(
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0)).alias("_ct"),
        F.sum(F.when(F.col("_is_target"), 0).otherwise(1)).alias("_cr"),
    )
    # cache the ≤n_buckets-row count frame: the side totals are its
    # column sums (identical integers to a direct pass over feats), so
    # deriving them here removes one of the exploded frame's three
    # full-cache scans (r14, guide §1.2 — don't recompute what a
    # bounded intermediate already holds)
    counts = pin(counts)
    totals = counts.agg(
        F.sum("_ct").alias("_nt"),
        F.sum("_cr").alias("_nr"),
    )
    ratio = F.log(
        (F.coalesce(F.col("_ct"), F.lit(0)) + F.lit(0.5)) / F.col("_nt")
    ) - F.log(
        (F.coalesce(F.col("_cr"), F.lit(0)) + F.lit(0.5)) / F.col("_nr")
    )
    return (
        feats.filter(~F.col("_is_target"))
        .join(F.broadcast(counts), "_b", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.round(F.avg(ratio), 4).alias("dsir_score"),
        )
    )


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """Textbook Bloom sizing: ``m = -n·ln(fpp)/ln(2)²`` bits,
    ``k = (m/n)·ln 2`` hash functions."""
    import math

    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _bloom_hashes(gram_col: str, m: int):
    """The Kirsch–Mitzenmacher double-hash pair over ``xxhash64``,
    pre-reduced mod m so ``h1 + i·h2`` stays ≤ (k+1)·m — ANSI overflow
    can never fire."""
    h1 = F.pmod(F.xxhash64(gram_col), F.lit(m))
    h2 = F.pmod(F.xxhash64(gram_col, F.lit(0x9E3779B9)), F.lit(m))
    return h1, h2


def _bloom_bitmap_df(grams: DataFrame, gram_col: str, m: int, k: int):
    """Fold a gram relation into its Bloom bitmap, DISTRIBUTED: each
    gram emits its k bit positions, a groupBy ORs them into 64-bit
    words, and only the ≤m/64-word bitmap is collected and reshipped
    as a one-row ``array<long>`` DataFrame (bounded by m, never by the
    gram count)."""
    h1, h2 = _bloom_hashes(gram_col, m)
    positions = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(h1 + i * h2, F.lit(m)),
    )
    words = (
        grams.select(F.explode(positions).alias("_pos"))
        .groupBy((F.col("_pos") / 64).cast("long").alias("_w"))
        .agg(
            F.bit_or(
                # pyspark's shiftleft wrapper takes a literal bit
                # count; the SQL form accepts the column
                F.expr("shiftleft(1L, cast(_pos % 64 as int))")
            ).alias("_bits")
        )
        .collect()
    )
    bitmap = [0] * ((m + 63) // 64)
    for r in words:
        bitmap[r["_w"]] = r["_bits"]
    return grams.sparkSession.createDataFrame(
        [(bitmap,)], "_bitmap array<long>"
    )


def _bloom_member_expr(gram_col: str, m: int, k: int):
    """Pure-expression Bloom membership against a ``_bitmap`` column:
    all k bits set.  Emitted as SQL text (the pyspark shift wrappers
    take literal bit counts only); the ``2654435769L`` seed literal is
    LONG to match the build side's ``F.lit`` type — xxhash64 hashes
    differ by input type.  ``element_at`` is 1-based; arithmetic
    shiftright only perturbs bits ABOVE the extracted one, so ``&1``
    stays exact at bit 63."""
    h1 = f"pmod(xxhash64({gram_col}), {m}L)"
    h2 = f"pmod(xxhash64({gram_col}, 2654435769L), {m}L)"
    conds = []
    for i in range(k):
        pos = f"pmod({h1} + {i}L * {h2}, {m}L)"
        word = f"element_at(_bitmap, cast({pos} div 64 as int) + 1)"
        conds.append(
            f"(shiftright({word}, cast({pos} % 64 as int)) & 1L) = 1L"
        )
    return F.expr(" AND ".join(conds))


_FLAG_THRESHOLD = 0.1


def contamination_ngram_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n_words: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    fpp: float = 0.01,
) -> DataFrame:
    """:func:`contamination_ngram_overlap` for 10⁶+-gram benchmarks —
    the Bloom-prefilter + exact-confirm architecture the broadcast join
    can't reach once the benchmark gram set outgrows a broadcast:

    1. The benchmark's distinct grams fold into a Bloom bitmap built
       DISTRIBUTED — each gram emits its k bit positions (double
       hashing: ``pos_i = (h1 + i·h2) mod m`` over ``xxhash64``, the
       textbook Kirsch–Mitzenmacher device, every step pmod-guarded so
       ANSI overflow never fires), a groupBy ORs them into 64-bit
       words, and only the ≤m/64-word bitmap is collected (1.2 MB per
       10⁶ grams at the default fpp — bounded, unlike the gram set).
    2. The corpus gram explode filters through the bitmap as PURE
       EXPRESSION arithmetic against one broadcast bitmap row — no
       shuffle, no Python; ~``fpp`` of clean grams survive.
    3. The tiny survivor set joins the benchmark gram relation EXACTLY
       (a shuffle join whose left side is hits+false-positives, not
       the corpus) — Bloom guarantees zero false negatives, the
       confirm join removes the false positives, so the output is
       IDENTICAL to the exact broadcast path and shares its oracle.

    Same return contract as :func:`contamination_ngram_overlap`.
    ``fpp`` only moves the prefilter's survivor volume (cost), never
    the result.  Cite: Brown et al. 2020 App. C for the screen; Bloom
    1970 / Kirsch–Mitzenmacher 2006 for the filter.
    """
    bench_grams = _word_ngram_rows(
        benchmark.select(F.lit(0).alias("_bid"), F.col(bench_text_col)),
        bench_text_col,
        "_bid",
        n_words,
    ).select("_g")
    pin(bench_grams)
    n_bench = bench_grams.count()
    # codegen row-form grams (see _word_ngram_rows), pinned: consumed
    # by the per-doc sizes AND the bitmap prefilter
    doc_grams = _word_ngram_rows(docs, text_col, id_col, n_words)
    pin(doc_grams)
    sizes = doc_grams.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    if n_bench == 0:
        return sizes.select(
            "id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.lit(0).cast("long").alias("n_dirty"),
            F.lit(0.0).alias("dirty_frac"),
            F.lit(False).alias("flagged"),
        )
    m, k = _bloom_params(n_bench, fpp)
    bitmap_df = _bloom_bitmap_df(bench_grams, "_g", m, k)
    survivors = (
        doc_grams.crossJoin(F.broadcast(bitmap_df))
        .filter(_bloom_member_expr("_g", m, k))
        .select("id", "_g")
    )
    hits = (
        survivors.join(bench_grams, "_g")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dirty"))
    )
    frac = F.coalesce(F.col("n_dirty"), F.lit(0)) / F.col("n_grams")
    return sizes.join(hits, "id", "left").select(
        "id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.coalesce(F.col("n_dirty"), F.lit(0))
        .cast("long")
        .alias("n_dirty"),
        F.round(frac, 6).alias("dirty_frac"),
        (frac >= F.lit(_FLAG_THRESHOLD)).alias("flagged"),
    )
