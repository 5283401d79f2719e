"""Event-analytics entries over the ``events`` table: JSON extraction,
windowed aggregation, sessionization, funnels, retention, anomaly
scores, sequences, Markov transitions, survival and attribution."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_validator_spark.operators import rebalance_for_compute as _rb
from big_data_validator_spark.operators.events_analytics import (
    ATTRIBUTION_CONVERSION,
    ATTRIBUTION_HORIZON,
    cohort_retention,
    funnel_conversion,
    markov_transitions,
    removal_attribution,
    rolling_distinct_counts,
    rolling_zscore_anomalies,
    survival_km,
    weekday_seasonal_anomalies,
)
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.loader import _t


@query(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS event_count,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_k
    FROM events GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _rb(_t(spark, sf_dir, "events"))
    k = F.get_json_object(F.col("props"), "$.k")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("event_count"),
        F.sum(k.cast("int")).cast("long").alias("sum_k"),
        F.sum(k.isNull().cast("long")).alias("missing_k"),
    )


@query(
    "events_hourly_windows",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS event_count,
           ROUND(AVG(value), 4) AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation — the same `window()` expression the
    streaming validator uses on this table (batch/stream parity)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "event_count",
            "avg_value",
        )
    )


@query(
    "events_sessionize",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS session_count,
           CAST(COUNT(*) AS BIGINT) AS event_count
    FROM gaps GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag window —
    shuffle on user_id only."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_session = (
        prev.isNull()
        | (F.col("ts").cast("long") - prev.cast("long") > 1800)
    ).cast("long")
    return (
        ev.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("session_count"),
            F.count(F.lit(1)).alias("event_count"),
        )
    )


@query(
    "events_funnel_conversion",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
          JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
          JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
    SELECT v.user_id,
           strftime(t1, '%Y-%m-%d %H:%M:%S') AS t_view,
           strftime(t2, '%Y-%m-%d %H:%M:%S') AS t_click,
           strftime(t3, '%Y-%m-%d %H:%M:%S') AS t_purchase,
           CAST(1 + (CASE WHEN t2 IS NULL THEN 0 ELSE 1 END)
                  + (CASE WHEN t3 IS NULL THEN 0 ELSE 1 END) AS INT)
             AS stages_completed
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view→click→purchase funnel per user: each stage's
    earliest completion given the previous stage happened strictly
    before it (operators/events_analytics.py: funnel_conversion).  Every
    stage joins and aggregates on the SAME user key, so the plan re-uses
    one hash partitioning end-to-end and later stages shrink to funnel
    survivors only."""
    ev = _t(spark, sf_dir, "events")
    out = funnel_conversion(ev, ["view", "click", "purchase"])
    return out.select(
        "user_id",
        F.date_format("t_view", "yyyy-MM-dd HH:mm:ss").alias("t_view"),
        F.date_format("t_click", "yyyy-MM-dd HH:mm:ss").alias("t_click"),
        F.date_format("t_purchase", "yyyy-MM-dd HH:mm:ss").alias("t_purchase"),
        "stages_completed",
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH cohort AS (SELECT user_id,
                           CAST(date_trunc('week', MIN(ts)) AS DATE) AS cw
                    FROM events GROUP BY 1),
    act AS (SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS aw FROM events),
    sizes AS (SELECT cw, COUNT(*) AS cs FROM cohort GROUP BY 1)
    SELECT strftime(cw, '%Y-%m-%d') AS cohort_period,
           CAST(date_diff('day', cw, aw) // 7 AS INT) AS period_offset,
           CAST(COUNT(*) AS BIGINT) AS active_users,
           CAST(ANY_VALUE(cs) AS BIGINT) AS cohort_size,
           ROUND(COUNT(*) / ANY_VALUE(cs), 6) AS retention_rate
    FROM act JOIN cohort USING (user_id) JOIN sizes USING (cw)
    GROUP BY cw, period_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-event week;
    per (cohort, week-offset) cell the distinct active users and the
    retention rate (operators/events_analytics.py: cohort_retention).
    Shuffles (user, week) pairs once, then joins the one-row-per-user
    cohort assignment back — broadcastable at most scales."""
    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev)


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
                   FROM events GROUP BY 1),
    win AS (SELECT d, CAST(n AS BIGINT) AS n, AVG(n) OVER w AS m,
                   STDDEV_SAMP(n) OVER w AS s
            FROM daily WINDOW w AS
              (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
    SELECT strftime(d, '%Y-%m-%d') AS "day", n,
           ROUND(m, 6) AS trailing_mean,
           ROUND(s, 6) AS trailing_std,
           ROUND(CASE WHEN s IS NOT NULL AND s > 0
                      THEN (n - m) / s END, 6) AS z_score,
           COALESCE(ABS(CASE WHEN s IS NOT NULL AND s > 0
                             THEN (n - m) / s END) > 2.0, FALSE)
             AS is_anomaly
    FROM win
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly monitor: each day's event count flagged
    against a trailing-7-day z-score, current day excluded from its own
    baseline (operators/events_analytics.py: rolling_zscore_anomalies).
    The ordered window runs over the per-day AGGREGATE — one row per
    day, a bounded single-partition frame, never over raw events."""
    ev = _t(spark, sf_dir, "events")
    return rolling_zscore_anomalies(ev)


@query(
    "events_top_sequences",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             LEAD(event_type, 1) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
             LEAD(event_type, 2) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS e3
      FROM events)
    SELECT e1 || '>' || e2 || '>' || e3 AS trigram,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq
    WHERE e1 IS NOT NULL AND e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, trigram ASC LIMIT 10
    """,
)
def events_top_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining: the 10 most common 3-event sequences
    across user journeys.  One window pass per user (lead ×2 over the
    same sort — Spark evaluates both leads in a single Window node),
    then a count aggregation whose shuffle carries distinct trigrams
    only; top-10 plans as TakeOrderedAndProject with a deterministic
    tie-break.  Event order is pinned by (ts, event_id) so concurrent
    events hash identically across engines."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # all three legs null-filtered: concat_ws would silently SKIP a null
    # middle element (emitting a 2-gram as a trigram) where the oracle's
    # || propagates NULL — filtering keeps both engines on defined input
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(
        F.col("e1").isNotNull()
        & F.col("e2").isNotNull()
        & F.col("e3").isNotNull()
    )
    return (
        seq.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("trigram")
        )
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("trigram").asc())
        .limit(10)
    )


@query(
    "events_anomaly_weekday",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1),
    dowed AS (SELECT day, CAST(dayofweek(day) + 1 AS INT) AS dow, n
              FROM daily),
    w AS (SELECT day, dow, n,
                 COUNT(n) OVER win AS k,
                 AVG(n) OVER win AS mean,
                 STDDEV_SAMP(n) OVER win AS std
          FROM dowed
          WINDOW win AS (PARTITION BY dow ORDER BY day
                         ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING))
    SELECT strftime(day, '%Y-%m-%d') AS day, dow, n,
           ROUND(mean, 6) AS baseline_mean,
           ROUND(std, 6) AS baseline_std,
           ROUND(CASE WHEN k >= 2 AND std > 0
                      THEN (n - mean) / std END, 4) AS z_score,
           COALESCE(ABS(CASE WHEN k >= 2 AND std > 0
                             THEN (n - mean) / std END) > 2.0,
                    FALSE) AS is_anomaly
    FROM w
    """,
)
def events_anomaly_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware volume monitor (operators/events_analytics.py:
    weekday_seasonal_anomalies): each day's event count z-scored
    against the trailing 4 SAME-WEEKDAY days — weekly-rhythm feeds
    where the plain rolling z-score fires every weekend or misses a
    broken Sunday batch.  One aggregation to per-day counts; the
    ordered window partitions by weekday over the per-day aggregate
    only (7 × #weeks rows).  Baseline excludes the monitored day."""
    ev = _t(spark, sf_dir, "events")
    return weekday_seasonal_anomalies(ev, "ts")


@query(
    "events_rolling_distinct",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT)
             AS distinct_entities
    FROM days d JOIN ud u
      ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day ORDER BY 1
    """,
)
def events_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day DISTINCT active users per day
    (operators/events_analytics.py:rolling_distinct_counts) — the
    sliding aggregate no Spark window function can express
    (``COUNT(DISTINCT) OVER (RANGE …)`` doesn't decompose into a
    running frame).  The Spark device is a bounded interval explode
    (each (user, day) row feeds the 7 report days it is visible
    from — linear shuffle volume, window_days constant); the ORACLE
    is the independent day×activity range-join formulation — two
    different algorithms, one exact answer.
    """
    ev = _t(spark, sf_dir, "events")
    return (
        rolling_distinct_counts(
            ev, entity_col="user_id", ts_col="ts", window_days=7
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "distinct_entities",
        )
        .orderBy("day")
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events),
    t AS (SELECT src, dst, COUNT(*) AS n FROM seq
          WHERE dst IS NOT NULL GROUP BY 1, 2)
    SELECT src, dst, CAST(n AS BIGINT) AS n_trans,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src), 6)
             AS p
    FROM t ORDER BY src, dst
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (operators/events_analytics.py: markov_transitions):
    every adjacent ``src → dst`` pair a user emits, with the
    row-conditional probability P(dst | src) — the behavioral
    fingerprint a release-over-release drift monitor compares (a
    checkout flow whose click→purchase rate halves is broken even when
    every per-event count looks normal).  One lead window partitioned
    by user (the funnel family's partitioning, fully parallel), then a
    groupBy whose cardinality is |event types|² — the conditional
    window runs over a few dozen rows at ANY data scale.  Ordering
    inside a user is (ts, event_id), the registry's tie-break
    convention."""
    ev = _t(spark, sf_dir, "events")
    return markov_transitions(ev)


@query(
    "events_survival_km",
    oracle="""
    WITH ud AS (
      SELECT user_id,
             MIN(ts) AS first_ts,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase,
             MAX(ts) AS last_ts
      FROM events GROUP BY 1),
    durs AS (
      SELECT CASE WHEN first_purchase IS NOT NULL
                  THEN CAST(date_diff('day', CAST(first_ts AS DATE),
                            CAST(first_purchase AS DATE)) AS INT)
                  ELSE CAST(date_diff('day', CAST(first_ts AS DATE),
                            CAST(last_ts AS DATE)) AS INT) END AS t,
             first_purchase IS NOT NULL AS obs
      FROM ud),
    per_t AS (SELECT t, SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS d,
                     COUNT(*) AS alln
              FROM durs GROUP BY t),
    ar AS (SELECT t, d,
                  SUM(alln) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                                  AND UNBOUNDED FOLLOWING) AS n
           FROM per_t),
    steps AS (SELECT t, n, d FROM ar WHERE d > 0),
    km AS (SELECT t, n, d,
           MAX(CASE WHEN d >= n THEN 1 ELSE 0 END) OVER w AS deadflag,
           SUM(CASE WHEN d < n
               THEN LN(1 - CAST(d AS DOUBLE)/n) END) OVER w AS lsum
           FROM steps WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW))
    SELECT t, CAST(n AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_deaths,
           CASE WHEN deadflag = 1 THEN 0.0
                ELSE ROUND(EXP(lsum), 6) END AS survival
    FROM km ORDER BY t
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier time-to-first-purchase survival
    (operators/events_analytics.py: survival_km): per user, the days
    from first activity to first purchase, right-censored at the last
    observed event for users who never purchase — the estimator that
    answers "what fraction converts within t days?" correctly when
    subjects are still live (a naive churn cut can't).  One aggregate
    collapses users to per-duration (deaths, totals) rows; the at-risk
    reverse cumsum and the exp(Σ ln) survival product run over that
    duration-span-bounded tiny frame (the rolling-anomaly family's
    deliberate single-partition window), never over raw events.  The
    terminal d == n step is exact (survival 0, no ln(0))."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
        F.max("ts").alias("last_ts"),
    )
    durs = ud.select(
        F.when(
            F.col("first_purchase").isNotNull(),
            F.datediff(F.to_date("first_purchase"), F.to_date("first_ts")),
        )
        .otherwise(
            F.datediff(F.to_date("last_ts"), F.to_date("first_ts"))
        )
        .alias("t"),
        F.col("first_purchase").isNotNull().alias("obs"),
    )
    return survival_km(durs, "t", "obs")


#: The channels the attribution entry credits; its oracle lists the same.
_ATTRIBUTION_CHANNELS = ("click", "error", "signup", "view")


def _attribution_oracle(
) -> str:
    """Generate the removal-attribution oracle: the same fixed-horizon
    value iteration the Spark operator runs, UNROLLED as one CTE per
    step (the text_bpe_learn oracle-generation device) — identical
    arithmetic on identical transition probabilities, so the two
    engines agree to float noise far below round-6."""
    scen_vals = ", ".join(
        f"('{c}')" for c in ("__FULL__",) + _ATTRIBUTION_CHANNELS
    )
    iters = []
    prev = "it0"
    for k in range(1, ATTRIBUTION_HORIZON + 1):
        iters.append(f"""
    it{k} AS (
      SELECT t.scenario, t.src AS state, SUM(t.p * v.vp) AS vp
      FROM t JOIN {prev} v ON v.scenario = t.scenario
                          AND v.state = t.dst
      GROUP BY 1, 2
      UNION ALL SELECT scenario, '{ATTRIBUTION_CONVERSION}' AS state, 1.0 AS vp
      FROM scen)""")
        prev = f"it{k}"
    return f"""
    WITH seq AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos,
             event_type AS e
      FROM events),
    j AS (
      SELECT s.user_id, s.pos, s.e
      FROM seq s LEFT JOIN (
        SELECT user_id, MIN(pos) AS ppos FROM seq
        WHERE e = '{ATTRIBUTION_CONVERSION}' GROUP BY 1) f USING (user_id)
      WHERE f.ppos IS NULL OR s.pos <= f.ppos),
    trans AS (
      SELECT e AS src,
             LEAD(e) OVER (PARTITION BY user_id ORDER BY pos) AS dst
      FROM j),
    edges AS (
      SELECT 'START' AS src, e AS dst FROM j WHERE pos = 1
      UNION ALL
      SELECT src, dst FROM trans WHERE dst IS NOT NULL
      UNION ALL
      SELECT src, 'END' AS dst FROM trans
      WHERE dst IS NULL AND src <> '{ATTRIBUTION_CONVERSION}'),
    counts AS (SELECT src, dst, COUNT(*) AS n FROM edges GROUP BY 1, 2),
    scen AS (SELECT * FROM (VALUES {scen_vals}) AS sv(scenario)),
    scc AS (
      SELECT scenario, src,
             CASE WHEN dst = scenario THEN 'END' ELSE dst END AS dst,
             SUM(n) AS n
      FROM counts, scen WHERE src <> scenario
      GROUP BY 1, 2, 3),
    t AS (SELECT scenario, src, dst,
                 CAST(n AS DOUBLE)
                   / SUM(n) OVER (PARTITION BY scenario, src) AS p
          FROM scc),
    it0 AS (SELECT scenario, '{ATTRIBUTION_CONVERSION}' AS state, 1.0 AS vp
            FROM scen),{",".join(iters)[1:]},
    final AS (
      SELECT s.scenario, COALESCE(f.vp, 0.0) AS p
      FROM scen s LEFT JOIN (
        SELECT scenario, vp FROM it{ATTRIBUTION_HORIZON} WHERE state = 'START') f
      USING (scenario)),
    eff AS (
      SELECT f.scenario AS channel,
             (SELECT p FROM final WHERE scenario = '__FULL__') AS pf,
             f.p AS pr
      FROM final f WHERE f.scenario <> '__FULL__')
    SELECT channel, ROUND(pf, 6) AS p_full, ROUND(pr, 6) AS p_removed,
           ROUND(1 - pr / pf, 6) AS removal_effect,
           ROUND((1 - pr / pf) / SUM(1 - pr / pf) OVER (), 6)
             AS attribution_share
    FROM eff ORDER BY channel
    """


@query("events_attribution_removal", oracle=_attribution_oracle())
def events_attribution_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect channel attribution
    (operators/events_analytics.py: removal_attribution): per-user
    journeys truncated at first purchase feed a first-order absorbing
    chain; each channel's causal share is how much the START→purchase
    absorption probability drops when that channel's inbound edges
    redirect to the null sink — last-touch attribution's principled
    replacement (Anderl et al. 2014).  Absorption runs as a FIXED
    8-step value iteration so the DuckDB oracle is the SAME unrolled
    arithmetic (one CTE per step, the text_bpe_learn device), never a
    matrix solve two engines would do differently.  One events pass
    (user-key window + aggregate to ≤(channels+2)² transition counts —
    the bounded sufficient statistic); the scenarios × iterations run
    driver-side over that collected frame (the Theil–Sen/FS-EM
    driver-loop regime — ~40 tiny Spark stages bought nothing but
    latency), so the entry is data-volume-independent past the one
    pass."""
    ev = _t(spark, sf_dir, "events")
    return removal_attribution(ev, channels=list(_ATTRIBUTION_CHANNELS))
