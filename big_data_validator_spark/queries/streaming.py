"""Streaming entries: every one runs a bounded drain through
:func:`~big_data_validator_spark.queries.drain._bounded_drain` and
returns the drained result, checked against a batch DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_validator_spark.operators import dedup as D
from big_data_validator_spark.operators.cdc import changeset_delta_rows
from big_data_validator_spark.operators.profile import profile_trend_anomalies
from big_data_validator_spark.operators.sketches import (
    kll_group_rollup_quantiles,
    kll_group_verify_quantiles,
    kll_rollup_quantiles,
    kll_verify_quantiles,
)
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.cdc import (
    _customer_scd2_versions,
    _SCD2_CUSTOMER_ORACLE,
)
from big_data_validator_spark.queries.drain import (
    _bounded_drain,
    _Drain,
    _memory_sink,
    _ordered_stream,
    _staged,
    _staged_runs,
    _write_file,
)
from big_data_validator_spark.queries.loader import _events_stream, _t
from big_data_validator_spark.queries.relational import (
    _mv_snapshots,
    _mv_total_micro,
    _MV_TOTALS_ORACLE,
)
from big_data_validator_spark.queries.rules import _TREND_RULE_SQL
from big_data_validator_spark.streaming.stateful import sessionize_with_state
from big_data_validator_spark.streaming.validate_stream import (
    _committed_batch_dirs,
    idempotent_batch_sink,
    read_metrics_repository,
    stream_apply_deltas_to_totals,
    stream_dedup,
    stream_drift_psi,
    stream_kll_group_sketches,
    stream_kll_sketches,
    stream_mannwhitney_drift,
    stream_markov_drift,
    stream_metrics_repository,
    stream_scd2_history,
    stream_static_enrich,
    stream_stream_attribution,
    stream_stream_attribution_left,
    stream_violation_sink,
    StreamingRuleConfig,
    windowed_violation_counts,
)


def _event_rules() -> dict:
    """The streaming rule entries' two event rules, each a violation
    predicate: ``value`` outside [0, 100] and an unknown ``event_type``
    (either one NULL)."""
    return {
        "value_range": (
            F.col("value").isNull()
            | (F.col("value") < 0)
            | (F.col("value") > 100)
        ),
        "type_domain": (
            ~F.col("event_type").isin("click", "view", "purchase", "signup")
            | F.col("event_type").isNull()
        ),
    }


@query(
    "streaming_windowed_violations",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(SUM(CASE WHEN value IS NULL OR value < 0 OR value > 100
                         THEN 1 ELSE 0 END) AS BIGINT) AS value_range_violations,
           CAST(SUM(CASE WHEN event_type IS NULL OR event_type NOT IN
                              ('click', 'view', 'purchase', 'signup')
                         THEN 1 ELSE 0 END) AS BIGINT) AS type_domain_violations
    FROM events GROUP BY 1
    """,
)
def streaming_windowed_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end, oracle-checked: the SAME rule
    expressions the batch runner aggregates, evaluated by a real
    ``readStream`` → watermark → tumbling-window plan, drained to a memory
    sink with the ``availableNow`` trigger (process-everything-then-stop,
    so the finite parquet source yields a deterministic, batch-equal
    answer).  Streaming here is genuinely the engine under test — the
    returned DataFrame is read back from the sink's result table.

    At 100 TB/day the identical plan runs unbounded: the shuffle carries
    only per-window partial counts and the watermark bounds state."""

    def writer(d: _Drain):
        counts = windowed_violation_counts(
            _events_stream(spark, sf_dir, d.root),
            _event_rules(),
            StreamingRuleConfig(event_time_col="ts", watermark="0 seconds", window="1 hour"),
        )
        return _memory_sink(counts, "complete")

    return _bounded_drain(
        spark,
        "streaming_windowed_violations",
        writer,
        lambda d: spark.table(d.table).select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "total_rows",
            F.col("value_range_violations").cast("long").alias("value_range_violations"),
            F.col("type_domain_violations").cast("long").alias("type_domain_violations"),
        ),
    )


@query(
    "streaming_failure_sink",
    oracle="""
    WITH v AS (
      SELECT *,
             (value IS NULL OR value < 0 OR value > 100) AS v_range,
             (event_type IS NULL OR event_type NOT IN
                  ('click', 'view', 'purchase', 'signup')) AS v_type
      FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS violation_rows,
           CAST(SUM(CASE WHEN v_range THEN 1 ELSE 0 END) AS BIGINT) AS value_range_rows,
           CAST(SUM(CASE WHEN v_type THEN 1 ELSE 0 END) AS BIGINT) AS type_domain_rows,
           CAST(COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT) AS event_dates
    FROM v WHERE v_range OR v_type
    """,
)
def streaming_failure_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming failure sink end-to-end, oracle-checked: a real
    ``readStream`` → stateless rule filter → append-only parquet sink
    partitioned by event date (``stream_violation_sink``), drained with
    the ``availableNow`` trigger, then the SINK FILES are read back and
    summarized.  Statless append drops nothing at the watermark (only
    stateful operators expire rows), so the sink holds exactly the batch
    answer — the oracle recomputes it relationally from the source table.
    ``event_dates`` counts the sink's physical partition values, proving
    the partitioned layout round-trips."""
    return _bounded_drain(
        spark,
        "streaming_failure_sink",
        lambda d: stream_violation_sink(
            _events_stream(spark, sf_dir, d.root),
            _event_rules(),
            output_path=f"{d.root}/sink",
            checkpoint_path=d.checkpoint,
            config=StreamingRuleConfig(event_time_col="ts", watermark="0 seconds"),
        ),
        lambda d: spark.read.parquet(f"{d.root}/sink").agg(
            F.count(F.lit(1)).alias("violation_rows"),
            F.sum(
                F.array_contains("violated_rules", "value_range").cast("long")
            ).alias("value_range_rows"),
            F.sum(
                F.array_contains("violated_rules", "type_domain").cast("long")
            ).alias("type_domain_rows"),
            F.count_distinct("event_date").alias("event_dates"),
        ),
    )


@query(
    "streaming_sessionize_stateful",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered
    ), agg AS (
      SELECT user_id, session_no,
             MIN(ts) AS s_start, MAX(ts) AS s_end,
             COUNT(*) AS event_count,
             SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS violation_count
      FROM sess GROUP BY user_id, session_no
    ), final AS (
      SELECT *, MAX(session_no) OVER (PARTITION BY user_id) AS last_no FROM agg
    )
    SELECT user_id,
           strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(event_count AS BIGINT) AS event_count,
           CAST(violation_count AS BIGINT) AS violation_count
    FROM final WHERE session_no < last_no
    """,
)
def streaming_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming operator, oracle-checked end-to-end:
    ``applyInPandasWithState`` sessionization (per-user gap state machine
    with in-session violation counts) drained through a real
    ``readStream`` → memory sink with the ``availableNow`` trigger.

    The emission contract on bounded input is deterministic: a session
    closed by a later event of the same user is emitted in-batch; each
    user's FINAL session stays in state awaiting an event-time timeout
    that a drained finite stream never fires (the watermark delay here is
    set beyond the data's span to pin that).  The oracle therefore
    reproduces, relationally, exactly the non-final sessions of every
    user.  State timestamps are µs-precise so gap splits agree
    bit-for-bit with the SQL interval comparison.

    At 100 TB/day the identical plan runs unbounded with a real watermark:
    state is bounded per active user and timeouts flush idle sessions —
    the capability the windowed-aggregation queries can't express
    (SURVEY.md §2g streaming)."""
    def writer(d: _Drain):
        sessions = sessionize_with_state(
            _events_stream(spark, sf_dir, d.root),
            gap_seconds=1800,
            watermark="36500 days",
        )
        return _memory_sink(sessions, "append")

    # the session's partition count, not the harness's 2: the
    # applyInPandasWithState Arrow workers parallelize with partitions
    # (sf0.1, local[4], 4 alternating pairs: median 7.5 s with 2 state
    # partitions against 5.5 s with the session's 4)
    return _bounded_drain(
        spark,
        "streaming_sessionize_stateful",
        writer,
        lambda d: spark.table(d.table).select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "event_count",
            "violation_count",
        ),
        state_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )


@query(
    "streaming_dedup_events",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS dedup_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS distinct_types
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    """,
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup end-to-end, oracle-checked: ``readStream`` →
    ``dropDuplicatesWithinWatermark(user_id, event_type)`` → memory sink,
    drained with ``availableNow``.  Which physical row survives per key is
    arrival-order-dependent, so the checked result aggregates over the
    KEYS — one row per distinct key is the deterministic contract.  State
    expires at the watermark horizon instead of accumulating forever —
    the property that makes streaming dedup viable at 100 TB/day
    (``streaming/validate_stream.py:stream_dedup``)."""
    def writer(d: _Drain):
        deduped = stream_dedup(
            _events_stream(spark, sf_dir, d.root),
            ["user_id", "event_type"],
            StreamingRuleConfig(event_time_col="ts", watermark="1 hour"),
        )
        return _memory_sink(deduped, "append")

    return _bounded_drain(
        spark,
        "streaming_dedup_events",
        writer,
        lambda d: spark.table(d.table).agg(
            F.count(F.lit(1)).alias("dedup_rows"),
            F.count_distinct("user_id").alias("distinct_users"),
            F.count_distinct("event_type").alias("distinct_types"),
        ),
    )


@query(
    "streaming_static_enrich",
    oracle="""
    SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(e.value), 4) AS avg_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
    GROUP BY 1, 2
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment end-to-end, oracle-checked: a
    real ``readStream`` over events joined per-micro-batch against the
    broadcast customer dim (synthetic registry mapping user_id+1 =
    c_custkey), aggregated into daily event-time windows and drained
    through ``availableNow`` to a memory sink
    (streaming/validate_stream.py: stream_static_enrich).  The join is
    STATELESS — only the windowed agg keeps state — which is what makes
    dim enrichment safe at any stream volume."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )

    def writer(d: _Drain):
        enriched = stream_static_enrich(
            _events_stream(spark, sf_dir, d.root),
            cust,
            F.col("c_custkey") == F.col("user_id") + F.lit(1),
            StreamingRuleConfig(
                event_time_col="ts", watermark="1 hour", window="1 day"
            ),
            group_col="segment",
            value_col="value",
        )
        # complete mode: the memory sink re-materializes every window
        # each trigger, so the final (not-yet-watermark-finalized) day is
        # included — the same drain contract streaming_windowed_violations
        # pins.
        return _memory_sink(enriched, "complete")

    return _bounded_drain(
        spark,
        "streaming_static_enrich",
        writer,
        lambda d: spark.table(d.table).select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "segment",
            "n",
            "avg_value",
        ),
    )


@query(
    "streaming_attribution_join",
    oracle="""
    SELECT c.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT p.ts) AS BIGINT) AS n_attributed_purchases,
           strftime(MIN(c.ts), '%Y-%m-%d %H:%M:%S') AS first_click
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY 1
    """,
)
def streaming_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join end-to-end, oracle-checked: clicks and
    purchases read as TWO independent ``readStream`` sources, joined on
    user with a 30-minute event-time attribution window
    (streaming/validate_stream.py: stream_stream_attribution), drained
    via ``availableNow`` to a memory sink, then rolled up per user.
    Inner matches emit on arrival, so the bounded drain equals the
    batch interval join exactly.  The watermark here exceeds the data
    span (drain determinism under any batching); production uses a real
    lateness horizon and Spark evicts per-side state beyond watermark +
    attribution window — the property that bounds stream-stream state."""
    def writer(d: _Drain):
        def side(etype: str) -> DataFrame:
            return _events_stream(spark, sf_dir, d.root).filter(
                F.col("event_type") == etype
            )

        pairs = stream_stream_attribution(
            side("click"), side("purchase"), "user_id", "ts", 1800,
            watermark="36500 days",
        )
        return _memory_sink(pairs, "append")

    return _bounded_drain(
        spark,
        "streaming_attribution_join",
        writer,
        lambda d: spark.table(d.table)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct("purchase_ts").alias("n_attributed_purchases"),
            F.date_format(F.min("click_ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_click"
            ),
        ),
    )


@query(
    "streaming_exactly_once_sink",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(value) AS DOUBLE), 2) AS sum_value
    FROM events WHERE value > 50 GROUP BY 1
    """,
)
def streaming_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE foreachBatch sink end-to-end
    (streaming/validate_stream.py: idempotent_batch_sink): events
    streamed, filtered, written to batch_id-committed parquet dirs
    (replayed batches no-op on the _SUCCESS marker), drained via
    ``availableNow``, read back recursively and aggregated — the
    hash-match against the batch SQL proves no row was dropped or
    double-written across micro-batches.  The replay-idempotence
    property itself is pinned in tests/test_streaming_exactly_once.py
    by re-invoking a committed batch id."""
    return _bounded_drain(
        spark,
        "streaming_exactly_once_sink",
        lambda d: idempotent_batch_sink(
            _events_stream(spark, sf_dir, d.root).filter(F.col("value") > 50),
            f"{d.root}/sink",
            d.checkpoint,
        ),
        lambda d: spark.read.option("recursiveFileLookup", "false")
        .parquet(f"{d.root}/sink")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ),
    )


def _mv_delta_stream_source(spark: SparkSession, sf_dir: str) -> str:
    """The 3-batch CDC delta feed for the streaming view maintenance
    drain: the signed delta rows between the agg_incremental_totals
    snapshots, split by ``o_orderkey % 3`` into staged runs."""
    def runs() -> list:
        current, incoming = _mv_snapshots(spark, sf_dir)
        deltas = changeset_delta_rows(
            current, incoming, ["o_orderkey"], ["o_orderpriority", "total"]
        )
        return [deltas.filter(F.col("o_orderkey") % 3 == r) for r in range(3)]

    return _staged_runs(spark, sf_dir, "mv", runs)


@query(
    "streaming_incremental_mv",
    oracle=_MV_TOTALS_ORACLE,
)
def streaming_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING materialized-view maintenance, oracle-checked
    end-to-end (streaming/validate_stream.py:
    stream_apply_deltas_to_totals): the CDC delta feed between the
    agg_incremental_totals snapshots arrives as 3 micro-batches; each
    batch advances the per-priority count/total view from the previous
    batch's committed state under the _SUCCESS protocol (replays
    no-op, so the chain is exactly-once), never reading the base
    table.  The oracle is the SAME full recompute as the batch twin —
    the driver check pins that three sequential partial delta
    applications land on the identical exact-DECIMAL view a recompute
    would build, i.e. the streaming view is always a prefix-consistent
    state of the table.  Ships micro-unit BIGINT like the batch twin
    (wide-decimal outputs break driver-hash canonicalization; the
    DECIMAL accumulation stays internal)."""
    current, _ = _mv_snapshots(spark, sf_dir)
    summary = current.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("total").alias("total"),
    )
    src = _mv_delta_stream_source(spark, sf_dir)
    return _bounded_drain(
        spark,
        "streaming_incremental_mv",
        lambda d: stream_apply_deltas_to_totals(
            _ordered_stream(spark, src),
            summary,
            group_cols=["o_orderpriority"],
            sum_cols=["total"],
            state_path=f"{d.root}/state",
            checkpoint_path=d.checkpoint,
            count_col="n_orders",
        ),
        lambda d: spark.read.parquet(f"{d.root}/state/batch_id=2").select(
            "o_orderpriority",
            "n_orders",
            _mv_total_micro().alias("total_micro"),
        ),
    )


def _lo_attrib_sources(spark: SparkSession, sf_dir: str) -> tuple:
    """Stage the click and purchase parquet sources for the streaming
    LEFT OUTER drain: one real file per side plus three far-future
    sentinel files whose later micro-batches advance the min-watermark
    past every real join window.  Explicit mtimes make the batch order
    deterministic without sleeping."""

    def write(root: str) -> None:
        types = _t(spark, sf_dir, "events").select(
            "user_id", "ts", "event_type"
        )
        bounds = types.agg(F.max("ts").alias("mx")).collect()[0]
        for side, etype in (("clicks", "click"), ("purchases", "purchase")):
            real = types.filter(F.col("event_type") == etype).select(
                "user_id", "ts"
            )
            _write_file(real, f"{root}/{side}/real", 1_000_000)
            for k in range(3):
                sentinel = spark.createDataFrame(
                    [(-1,)], "user_id long"
                ).select(
                    "user_id",
                    (
                        F.lit(bounds["mx"]).cast("timestamp")
                        + F.expr(f"INTERVAL {k + 1} DAYS")
                    ).alias("ts"),
                )
                _write_file(
                    sentinel, f"{root}/{side}/sentinel{k}", 1_000_010 + k
                )

    root = _staged(spark, sf_dir, "lo", write)
    return f"{root}/clicks", f"{root}/purchases"


@query(
    "streaming_attribution_left",
    oracle="""
    WITH p AS (SELECT user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    j AS (SELECT p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
          FROM p LEFT JOIN c
            ON c.user_id = p.user_id
           AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN click_ts IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unattributed,
           CAST(COUNT(DISTINCT CASE WHEN click_ts IS NOT NULL
                                    THEN purchase_ts END)
                AS BIGINT) AS n_attributed_purchases,
           strftime(MIN(purchase_ts), '%Y-%m-%d %H:%M:%S')
             AS first_purchase
    FROM j GROUP BY 1
    """,
)
def streaming_attribution_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join end-to-end
    (streaming/validate_stream.py: stream_stream_attribution_left):
    every purchase with its attributing clicks, or a NULL click once
    the watermark proves none can arrive — the attribution-LOSS shape
    (VERDICT r5 #4).  Unlike the inner join, null-extensions emit only
    after the watermark passes a purchase's join window, so the drain
    appends three sentinel micro-batches (far-future rows on BOTH
    sides, filtered at read-back) to advance the min-watermark past
    every real window — in production the stream simply keeps flowing.
    Real rows load in ONE micro-batch per side (single file +
    maxFilesPerTrigger) so the 1-second lateness horizon drops
    nothing; mtimes are set explicitly so batch order never depends on
    write timing.  The drained sink then rolls up per user and must
    hash-match DuckDB's batch LEFT JOIN.  State stays bounded by
    watermark + attribution window per side — the property that makes
    the shape viable at 100 TB/day.

    Bench shape: source staging (the click/purchase files + sentinels)
    is INPUT data, not operator work — it is minted once per
    (session, sf_dir) and reused, exactly as production sources
    pre-exist their consumers; the streaming query itself (state
    stores, join, sink) runs fully every call.  The drain uses the
    harness's ``availableNow`` trigger like every other entry:
    ``maxFilesPerTrigger`` still feeds one file per side per
    micro-batch, and the answer equals the oracle's at sf0.001 and
    sf0.01."""
    cdir, pdir = _lo_attrib_sources(spark, sf_dir)

    def writer(d: _Drain):
        pairs = stream_stream_attribution_left(
            _ordered_stream(spark, pdir, "real"),
            _ordered_stream(spark, cdir, "real"),
            "user_id", "ts", 1800,
            watermark="1 second",
        )
        return _memory_sink(pairs, "append")

    return _bounded_drain(
        spark,
        "streaming_attribution_left",
        writer,
        lambda d: spark.table(d.table)
        .filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("click_ts").isNull().cast("long"))
            .cast("long")
            .alias("n_unattributed"),
            F.count_distinct(
                F.when(F.col("click_ts").isNotNull(), F.col("purchase_ts"))
            )
            .cast("long")
            .alias("n_attributed_purchases"),
            F.date_format(F.min("purchase_ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_purchase"
            ),
        ),
    )


def _metrics_stream_source(spark: SparkSession, sf_dir: str) -> str:
    """The 4-run streaming source for the metrics-repository drain: run
    ``r`` holds events with ``least(user_id % 12, 3) == r`` — three
    ~equal small runs then a ~9× volume spike the trend rule must
    flag."""

    def runs() -> list:
        ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
        run = F.least(F.col("user_id") % 12, F.lit(3))
        return [ev.filter(run == r) for r in range(4)]

    return _staged_runs(spark, sf_dir, "metrics", runs)


def _stream_metrics_oracle_sql() -> str:
    """DuckDB mirror of the STREAMING metrics repository + trend rule:
    re-derive each micro-batch's membership relationally (run r =
    events with least(user_id % 12, 3) == r), profile per run, then the
    identical trailing-3 trend window as the batch twin
    (:func:`_trend_oracle_sql`)."""
    metric = {
        "null_count_u": "SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)",
        "distinct_count_u": "COUNT(DISTINCT user_id)",
        "min_u": "MIN(user_id)",
        "max_u": "MAX(user_id)",
        "null_count_t": "SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)",
        "distinct_count_t": "COUNT(DISTINCT event_type)",
        "min_length_t": "MIN(len(event_type))",
        "max_length_t": "MAX(len(event_type))",
    }
    legs = []
    for m, expr in metric.items():
        col = "user_id" if m.endswith("_u") else "event_type"
        name = m[:-2]
        legs.append(
            f"SELECT run_id, '{col}' AS \"column\", '{name}' AS metric,"
            f" CAST({expr} AS DOUBLE) AS value FROM src GROUP BY run_id"
        )
    # row_count replicates per profiled column (profile_table contract)
    for col in ("user_id", "event_type"):
        legs.append(
            f"SELECT run_id, '{col}' AS \"column\","
            " 'row_count' AS metric, CAST(COUNT(*) AS DOUBLE) AS value"
            " FROM src GROUP BY run_id"
        )
    union = "\n      UNION ALL\n      ".join(legs)
    return f"""
    WITH src AS (
      SELECT LEAST(user_id % 12, 3) AS run_id, user_id, event_type
      FROM events
    ),
    m AS ({union}),{_TREND_RULE_SQL}"""


#: Run assignment for the streaming drift monitor: two uniform samples
#: (calm baseline traffic), then the remaining rows split BY VALUE —
#: run 2 high-only, run 3 low-only — the regime shift the monitor must
#: flag.  SQL-expressible so the oracle re-derives batch membership.
_DRIFT_RUN_CASE = (
    "CASE WHEN user_id % 12 = 0 THEN 0 "
    "WHEN user_id % 12 = 1 THEN 1 "
    "WHEN value > 50 THEN 2 ELSE 3 END"
)


def _drift_stream_source(spark: SparkSession, sf_dir: str) -> str:
    """The 4-run streaming source for the drift drains: runs 0/1 are
    uniform user-hash samples (PSI ≈ 0), runs 2/3 carry only the high /
    only the low half of the value range (PSI large)."""

    def runs() -> list:
        ev = _t(spark, sf_dir, "events").select("user_id", "value")
        return [ev.filter(F.expr(_DRIFT_RUN_CASE) == r) for r in range(4)]

    return _staged_runs(spark, sf_dir, "drift", runs)


@query(
    "streaming_drift_psi",
    oracle=f"""
    WITH src AS (
      SELECT {_DRIFT_RUN_CASE} AS run_id, value FROM events
    ),
    bins(bin_id) AS (VALUES (0), (1), (2), (3), (4)),
    runs(run_id) AS (VALUES (0), (1), (2), (3)),
    binned AS (
      SELECT run_id,
             CASE WHEN value >= 100 THEN 4
                  WHEN value >= 75 THEN 3
                  WHEN value >= 50 THEN 2
                  WHEN value >= 25 THEN 1
                  ELSE 0 END AS bin_id
      FROM src),
    base AS (
      SELECT bin_id,
             COUNT(*) / CAST((SELECT COUNT(*) FROM binned) AS DOUBLE)
               AS p_base
      FROM binned GROUP BY 1),
    per_run AS (
      SELECT run_id, bin_id, COUNT(*) AS n FROM binned GROUP BY 1, 2),
    totals AS (SELECT run_id, SUM(n) AS t FROM per_run GROUP BY 1),
    grid AS (SELECT runs.run_id, bins.bin_id FROM runs, bins)
    SELECT CAST(grid.run_id AS BIGINT) AS run_id, grid.bin_id,
           ROUND(COALESCE(base.p_base, 0), 6) AS p_base,
           ROUND(COALESCE(per_run.n / CAST(totals.t AS DOUBLE), 0), 6)
             AS p_run,
           ROUND((COALESCE(per_run.n / CAST(totals.t AS DOUBLE), 0)
                  - COALESCE(base.p_base, 0))
                 * ln((COALESCE(per_run.n / CAST(totals.t AS DOUBLE), 0)
                       + 1e-6)
                      / (COALESCE(base.p_base, 0) + 1e-6)), 6)
             AS psi_term
    FROM grid
    LEFT JOIN base ON base.bin_id = grid.bin_id
    LEFT JOIN per_run ON per_run.run_id = grid.run_id
                     AND per_run.bin_id = grid.bin_id
    LEFT JOIN totals ON totals.run_id = grid.run_id
    """,
)
def streaming_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PSI drift monitor, oracle-checked end-to-end
    (streaming/validate_stream.py: stream_drift_psi): live micro-batch
    traffic scored against a static baseline distribution (the
    training distribution) over explicit value bins, per-bin PSI terms
    appended under the exactly-once batch-id commit protocol with
    batch_id == run_id.  Runs 0/1 are uniform samples (calm, PSI ≈ 0);
    runs 2/3 carry only the high / only the low half of the value
    range — the regime shift a serving-side monitor exists to catch
    (their psi_terms are large).  The baseline histogram folds into the
    per-batch plan as literals (bounded driver work: one row per bin);
    each micro-batch is one pass."""
    src = _drift_stream_source(spark, sf_dir)
    baseline = _t(spark, sf_dir, "events").select("value")
    return _bounded_drain(
        spark,
        "streaming_drift_psi",
        lambda d: stream_drift_psi(
            _ordered_stream(spark, src),
            baseline,
            value_col="value",
            bin_edges=[25.0, 50.0, 75.0, 100.0],
            repo_path=f"{d.root}/repo",
            checkpoint_path=d.checkpoint,
        ),
        lambda d: read_metrics_repository(spark, f"{d.root}/repo").select(
            "run_id",
            "bin_id",
            F.round("p_base", 6).alias("p_base"),
            F.round("p_run", 6).alias("p_run"),
            F.round("psi_term", 6).alias("psi_term"),
        ),
    )


@query("streaming_metrics_trend", oracle=_stream_metrics_oracle_sql())
def streaming_metrics_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING metrics repository + trend rule, oracle-checked
    end-to-end (streaming/validate_stream.py:
    stream_metrics_repository — VERDICT r6 item 2, the streaming Deequ
    shape): a real ``readStream`` over 4 mtime-ordered file groups,
    ``maxFilesPerTrigger=1`` so batch_id == run_id, each micro-batch
    profiled in one pass inside ``foreachBatch`` and appended to a
    parquet repository under the exactly-once batch-id commit protocol;
    after the drain the repository feeds profile_trend_anomalies, which
    flags run 3's ~9× volume spike against its trailing-3 baseline.
    Only integer-valued metrics are monitored so history values are
    engine-exact.  Scale: profiles aggregate map-side inside each
    micro-batch; the repository and the trend window hold one row per
    (run, column, metric) — unbounded streams stay bounded state."""
    src = _metrics_stream_source(spark, sf_dir)
    keep = [
        "row_count", "null_count", "distinct_count",
        "min", "max", "min_length", "max_length",
    ]
    return _bounded_drain(
        spark,
        "streaming_metrics_trend",
        lambda d: stream_metrics_repository(
            _ordered_stream(spark, src),
            repo_path=f"{d.root}/repo",
            checkpoint_path=d.checkpoint,
            columns=["user_id", "event_type"],
        ),
        lambda d: profile_trend_anomalies(
            read_metrics_repository(spark, f"{d.root}/repo").filter(
                F.col("metric").isin(keep)
            ),
            trailing=3,
            z_threshold=3.0,
        ),
    )


def _scd2_stream_source(spark: SparkSession, sf_dir: str) -> str:
    """The three customer snapshot versions as a 3-run streaming source:
    exactly one snapshot version per micro-batch, in order."""
    return _staged_runs(
        spark, sf_dir, "scd2", lambda: list(_customer_scd2_versions(spark, sf_dir))
    )


@query("streaming_scd2_history", oracle=_SCD2_CUSTOMER_ORACLE)
def streaming_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD Type-2 maintenance (streaming/validate_stream.py:
    stream_scd2_history): the same three customer snapshot versions
    arrive as micro-batches (``maxFilesPerTrigger=1``, mtime-ordered),
    and each batch advances the history table incrementally — one key
    join between the open-interval slice and the snapshot
    (operators/cdc.py:scd2_apply_snapshot), chained through committed
    ``batch_id=N`` state dirs under the ``_SUCCESS`` protocol (replay
    no-ops on the marker).  Applying versions in arrival order
    reproduces the batch rebuild EXACTLY, so this entry shares the
    batch twin's oracle — the strongest possible check that
    incremental == rebuild across the batch/streaming boundary (the
    streaming_incremental_mv device, now for dimension history)."""
    src = _scd2_stream_source(spark, sf_dir)
    empty_history = spark.createDataFrame(
        [],
        "c_custkey long, c_mktsegment string, acct_cents long, "
        "valid_from int, valid_to int, is_current boolean",
    )
    return _bounded_drain(
        spark,
        "streaming_scd2_history",
        lambda d: stream_scd2_history(
            _ordered_stream(spark, src),
            key_cols=["c_custkey"],
            tracked_cols=["c_mktsegment", "acct_cents"],
            version_col="v",
            initial_history=empty_history,
            state_path=f"{d.root}/state",
            checkpoint_path=d.checkpoint,
        ),
        lambda d: spark.read.parquet(
            _committed_batch_dirs(spark, f"{d.root}/state")[-1]
        ).orderBy("c_custkey", "valid_from"),
    )


@query(
    "streaming_kll_quantiles",
    oracle="""
    WITH v AS (
      SELECT CAST(FLOOR(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    d AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS w FROM v GROUP BY 1),
    cum AS (SELECT c, SUM(w) OVER (ORDER BY c) AS cle FROM d),
    t AS (SELECT pct, CAST((pct * n.n + 99) // 100 AS BIGINT) AS r,
                 n.n AS n_rows
          FROM (VALUES (50), (90), (99)) AS q(pct), n)
    SELECT CAST(t.pct AS INT) AS quantile_pct,
           CAST(MIN(cum.c) AS BIGINT) AS exact,
           t.n_rows AS n_rows,
           TRUE AS est_ok
    FROM t JOIN cum ON cum.cle >= t.r
    GROUP BY t.pct, t.n_rows
    """,
)
def streaming_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING percentile monitor from mergeable sketches,
    oracle-checked end-to-end (streaming/validate_stream.py:
    stream_kll_sketches): a real ``readStream`` drains the 4-run drift
    source with ``maxFilesPerTrigger=1``, each micro-batch reduces to
    ONE persisted KLL sketch row under the exactly-once batch-id
    commit protocol, and the live p50/p90/p99 is a 4-row MERGE of the
    repository — the stream is read once, state never accumulates in
    the query (the repository IS the state, one bounded row per
    batch).  Values are floor-quantized cents (floor of a double
    product is engine-portable; round is not).  Verification ships the
    exact percentile over the same drained rows plus the ±2.5% rank
    verdict — the agg_kll_mergeable hash discipline, now across the
    batch/streaming boundary."""
    src = _drift_stream_source(spark, sf_dir)
    cents = F.floor(F.col("value") * 100).cast("long").alias("c")

    def read_back(d: _Drain) -> DataFrame:
        sketches = read_metrics_repository(spark, f"{d.root}/repo")
        est = kll_rollup_quantiles(sketches, [50, 90, 99], k=200)
        drained = (
            spark.read.parquet(f"{src}/*")
            .filter(F.col("value").isNotNull())
            .select(cents)
        )
        res = kll_verify_quantiles(
            est, drained, "c", tol_ppm=25_000, block_width=1_000_000
        )
        out = res.orderBy("quantile_pct")
        out._bdv_pinned = D.pinned_caches(res)
        return out

    return _bounded_drain(
        spark,
        "streaming_kll_quantiles",
        lambda d: stream_kll_sketches(
            _ordered_stream(spark, src)
            .filter(F.col("value").isNotNull())
            .select(cents),
            value_col="c",
            repo_path=f"{d.root}/repo",
            checkpoint_path=d.checkpoint,
            k=200,
        ),
        read_back,
    )


def _kll_group_stream_source(spark: SparkSession, sf_dir: str) -> str:
    """A 3-run streaming source for the per-group sketch drain: events
    split by ``user_id % 3`` into runs (a full partition — the union of
    runs is the whole table, so the oracle is plain SQL over
    ``events``), keeping the event_type group key and floor-quantized
    cents."""

    def runs() -> list:
        ev = (
            _t(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
            .select(
                "event_type",
                F.floor(F.col("value") * 100).cast("long").alias("c"),
                (F.col("user_id") % 3).alias("_run"),
            )
        )
        return [ev.filter(F.col("_run") == r).drop("_run") for r in range(3)]

    return _staged_runs(spark, sf_dir, "kll_group", runs)


@query(
    "streaming_kll_by_group",
    oracle="""
    WITH v AS (
      SELECT event_type AS g, CAST(FLOOR(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
    d AS (SELECT g, c, CAST(COUNT(*) AS BIGINT) AS w FROM v GROUP BY 1, 2),
    cum AS (SELECT g, c, SUM(w) OVER (PARTITION BY g ORDER BY c) AS cle
            FROM d),
    t AS (SELECT n.g, pct, CAST((pct * n.n + 99) // 100 AS BIGINT) AS r,
                 n.n AS n_rows
          FROM (VALUES (50), (90)) AS q(pct), n)
    SELECT t.g AS event_type, CAST(t.pct AS INT) AS quantile_pct,
           CAST(MIN(cum.c) AS BIGINT) AS exact,
           t.n_rows AS n_rows, TRUE AS est_ok
    FROM t JOIN cum ON cum.g = t.g AND cum.cle >= t.r
    GROUP BY t.g, t.pct, t.n_rows
    """,
)
def streaming_kll_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING per-group percentile monitor (streaming/
    validate_stream.py:stream_kll_group_sketches): a real
    ``readStream`` drains the 3-run grouped source with
    ``maxFilesPerTrigger=1``, each micro-batch persists ONE KLL sketch
    row PER event_type under the exactly-once batch-id commit
    protocol, and the live per-group p50/p90 is a per-group merge of
    the repository rows — the streaming twin of agg_kll_by_segment,
    sharing its grouped rollup and grouped exact-CDF verify legs.
    Values are floor-quantized cents (floor of a double product is
    engine-portable).  The runs partition events by user hash, so the
    oracle is plain SQL over the whole table."""
    src = _kll_group_stream_source(spark, sf_dir)

    def read_back(d: _Drain) -> DataFrame:
        sketches = read_metrics_repository(spark, f"{d.root}/repo")
        est = kll_group_rollup_quantiles(
            sketches.select("event_type", "sketch", "n_rows"),
            ["event_type"],
            [50, 90],
            k=200,
        )
        drained = spark.read.parquet(f"{src}/*")
        res = kll_group_verify_quantiles(
            est, drained, "c", ["event_type"], tol_ppm=25_000,
            block_width=1_000_000,
        )
        out = res.orderBy("event_type", "quantile_pct")
        out._bdv_pinned = D.pinned_caches(res)
        return out

    return _bounded_drain(
        spark,
        "streaming_kll_by_group",
        lambda d: stream_kll_group_sketches(
            _ordered_stream(spark, src),
            value_col="c",
            group_cols=["event_type"],
            repo_path=f"{d.root}/repo",
            checkpoint_path=d.checkpoint,
            k=200,
        ),
        read_back,
    )


def _markov_stream_source(spark: SparkSession, sf_dir: str) -> str:
    """The 4-run streaming source for the Markov-drift drain: runs 0/1
    are untouched user cohorts (calm, TV ≈ 0.03), run 2 remaps
    click→error, run 3 drops purchases — the two transition-level
    regime shifts a behavioral monitor exists to catch."""

    def runs() -> list:
        ev = _t(spark, sf_dir, "events").select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            (F.col("user_id") % 4).alias("_run"),
        )
        staged = ev.filter(
            ~((F.col("_run") == 3) & (F.col("event_type") == "purchase"))
        ).withColumn(
            "event_type",
            F.when(
                (F.col("_run") == 2) & (F.col("event_type") == "click"),
                F.lit("error"),
            ).otherwise(F.col("event_type")),
        )
        return [staged.filter(F.col("_run") == r).drop("_run") for r in range(4)]

    return _staged_runs(spark, sf_dir, "markov", runs)


@query(
    "streaming_markov_drift",
    oracle="""
    WITH runs AS (
      SELECT user_id % 4 AS run_id, user_id, ts, event_id,
             CASE WHEN user_id % 4 = 2 AND event_type = 'click'
                  THEN 'error' ELSE event_type END AS e
      FROM events
      WHERE NOT (user_id % 4 = 3 AND event_type = 'purchase')),
    rtrans AS (
      SELECT run_id, e AS src,
             LEAD(e) OVER (PARTITION BY run_id, user_id
                           ORDER BY ts, event_id) AS dst
      FROM runs),
    rcnt AS (SELECT run_id, src, dst, COUNT(*) AS n FROM rtrans
             WHERE dst IS NOT NULL GROUP BY 1, 2, 3),
    rtot AS (SELECT run_id, SUM(n) AS t FROM rcnt GROUP BY 1),
    btrans AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events),
    bcnt AS (SELECT src, dst, COUNT(*) AS n FROM btrans
             WHERE dst IS NOT NULL GROUP BY 1, 2),
    base AS (SELECT src, dst,
                    n / (SELECT CAST(SUM(n) AS DOUBLE) FROM bcnt)
                      AS p_base
             FROM bcnt),
    runids(rid) AS (VALUES (0), (1), (2), (3)),
    bgrid AS (SELECT rid AS run_id, src, dst, p_base FROM base, runids),
    runp AS (SELECT r.run_id, r.src, r.dst,
                    r.n / CAST(t.t AS DOUBLE) AS p_run
             FROM rcnt r JOIN rtot t USING (run_id)),
    cells AS (
      SELECT COALESCE(b.run_id, r.run_id) AS run_id,
             COALESCE(b.src, r.src) AS src,
             COALESCE(b.dst, r.dst) AS dst,
             COALESCE(b.p_base, 0) AS p_base,
             COALESCE(r.p_run, 0) AS p_run
      FROM bgrid b FULL OUTER JOIN runp r
        ON b.run_id = r.run_id AND b.src = r.src AND b.dst = r.dst)
    SELECT CAST(run_id AS BIGINT) AS run_id, src, dst,
           ROUND(p_base, 6) AS p_base, ROUND(p_run, 6) AS p_run,
           ROUND(0.5 * ABS(p_run - p_base), 6) AS tv_term
    FROM cells ORDER BY run_id, src, dst
    """,
)
def streaming_markov_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING behavioral-drift monitor, oracle-checked end-to-end
    (streaming/validate_stream.py: stream_markov_drift): each
    micro-batch's first-order transition matrix scores cell-by-cell
    against the static healthy-traffic matrix as total-variation terms,
    appended under the exactly-once batch-id commit protocol with
    batch_id == run_id.  Runs 0/1 are untouched cohorts (TV ≈ 0.03);
    run 2 remaps click→error and run 3 drops purchases — transition-
    level regime shifts per-event-count monitors cannot see (TV ≈
    0.38/0.36).  The baseline matrix folds into each batch plan as a
    ≤|types|²-row literal grid (the stream_drift_psi histogram device);
    each batch is one user-key window pass + one (src,dst) aggregate."""
    src = _markov_stream_source(spark, sf_dir)
    baseline = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return _bounded_drain(
        spark,
        "streaming_markov_drift",
        lambda d: stream_markov_drift(
            _ordered_stream(spark, src), baseline, f"{d.root}/repo", d.checkpoint
        ),
        lambda d: read_metrics_repository(spark, f"{d.root}/repo").select(
            "run_id",
            "src",
            "dst",
            F.round("p_base", 6).alias("p_base"),
            F.round("p_run", 6).alias("p_run"),
            F.round("tv_term", 6).alias("tv_term"),
        ),
    )


@query(
    "streaming_mannwhitney_drift",
    oracle=f"""
    WITH runs(run_id) AS (VALUES (0), (1), (2), (3)),
    src AS (
      SELECT {_DRIFT_RUN_CASE} AS rid,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    ref AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    pooled AS (
      SELECT r.run_id, s.v, 1 AS ca, 0 AS cb
      FROM runs r JOIN src s ON s.rid <= r.run_id
      UNION ALL
      SELECT r.run_id, e.v, 0 AS ca, 1 AS cb
      FROM runs r CROSS JOIN ref e),
    cnts AS (
      SELECT run_id, v, SUM(ca) AS na, SUM(cb) AS nb
      FROM pooled GROUP BY 1, 2),
    ord AS (
      SELECT run_id, v, na, nb, na + nb AS t,
             COALESCE(SUM(na + nb) OVER (PARTITION BY run_id ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS c
      FROM cnts),
    agg AS (
      SELECT run_id,
             CAST(SUM(na) AS BIGINT) AS n_a,
             CAST(SUM(nb) AS BIGINT) AS n_b,
             SUM(CAST(na AS HUGEINT)
                 * (2 * CAST(c AS HUGEINT) + t + 1)) AS r2a,
             SUM(CAST(t AS HUGEINT) * t * t - t) AS ties
      FROM ord GROUP BY 1),
    fin AS (
      SELECT run_id, n_a, n_b, ties,
             CAST(r2a - CAST(n_a AS HUGEINT)
                        * (CAST(n_a AS HUGEINT) + 1) AS BIGINT)
               AS u_a_x2
      FROM agg),
    vr AS (
      SELECT *,
             CAST(n_a AS DOUBLE) * n_b / 12.0
             * ((n_a + n_b + 1)
                - CAST(ties AS DOUBLE)
                  / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))
               AS var
      FROM fin)
    SELECT CAST(run_id AS BIGINT) AS run_id, n_a, n_b, u_a_x2,
           CAST(2 * CAST(n_a AS HUGEINT) * n_b AS BIGINT) - u_a_x2
             AS u_b_x2,
           CASE WHEN n_a + n_b > 1 AND var > 0 THEN
             ROUND((CAST(u_a_x2 AS DOUBLE)
                    - CAST(n_a AS DOUBLE) * n_b)
                   / (2.0 * SQRT(var)), 6)
           END AS z
    FROM vr ORDER BY run_id
    """,
)
def streaming_mannwhitney_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING Mann–Whitney drift monitor, oracle-checked end-to-end
    (streaming/validate_stream.py: stream_mannwhitney_drift): after
    every micro-batch the CUMULATIVE stream is rank-tested against the
    static reference distribution with the exact doubled-midrank U —
    the rank-based member joining the streaming bench beside the PSI
    and Markov monitors (no bin edges to tune; a stochastic ordering
    shift that binned PSI dilutes registers directly in z).  Runs 0/1
    are uniform samples (|z| small); runs 2/3 stream only the high /
    only the low half of the value range, dragging the cumulative rank
    mass visibly.  State is the committed-parquet repository protocol
    twice over (per-batch count DELTAS + statistic rows, both under
    the _SUCCESS marker skip; the reference counts materialize once) —
    no driver state, and the statistic is mwu_from_value_counts, the
    SAME math as the batch mannwhitney_u, which is what lets DuckDB
    replay all four cumulative prefixes as one windowed query."""
    src = _drift_stream_source(spark, sf_dir)
    reference = _t(spark, sf_dir, "events").select("value")
    return _bounded_drain(
        spark,
        "streaming_mannwhitney_drift",
        lambda d: stream_mannwhitney_drift(
            _ordered_stream(spark, src),
            reference,
            value_col="value",
            repo_path=f"{d.root}/repo",
            checkpoint_path=d.checkpoint,
            value_scale=100,
        ),
        lambda d: read_metrics_repository(spark, f"{d.root}/repo/stats").select(
            "run_id", "n_a", "n_b", "u_a_x2", "u_b_x2", "z"
        ),
    )
