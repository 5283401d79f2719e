"""Change-data-capture entries: snapshot changesets, changeset apply,
schema-evolving changesets and SCD2 histories."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_validator_spark.operators.cdc import (
    apply_changeset,
    scd2_history,
    snapshot_changeset,
    snapshot_changeset_evolving,
)
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.loader import _t


@query(
    "cdc_changeset_orders",
    oracle="""
    WITH incoming AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice,
             o_orderpriority
      FROM orders WHERE o_orderkey % 10 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice,
             o_orderpriority
      FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT o_orderkey, change_type FROM (
      SELECT COALESCE(c.o_orderkey, i.o_orderkey) AS o_orderkey,
             CASE WHEN i.o_orderkey IS NULL THEN 'delete'
                  WHEN c.o_orderkey IS NULL THEN 'insert'
                  WHEN c.o_orderstatus IS DISTINCT FROM i.o_orderstatus
                    OR c.o_totalprice IS DISTINCT FROM i.o_totalprice
                    OR c.o_orderpriority IS DISTINCT FROM i.o_orderpriority
                  THEN 'update' ELSE 'unchanged' END AS change_type
      FROM orders c FULL OUTER JOIN incoming i
        ON c.o_orderkey = i.o_orderkey
    ) WHERE change_type <> 'unchanged'
    """,
)
def cdc_changeset_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff / CDC changeset (operators/cdc.py:
    snapshot_changeset): yesterday's orders vs a simulated incoming
    snapshot (10%% of keys deleted, every 7th price bumped, every 13th
    key re-inserted under a new id); every key classified
    insert / update / delete.  Both sides reduce to (key, md5
    fingerprint) BEFORE the full-outer join, so the shuffle carries
    ~50 B/row however wide the fact table is; bucketed snapshots make
    the join zero-Exchange.  The incremental-revalidation primitive the
    reference lacks (reference/big_data_validator.py re-reads whole
    files every run)."""
    o = _t(spark, sf_dir, "orders")
    current = o.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    base = current.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 1.1
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderpriority",
    )
    inserts = current.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    )
    incoming = base.unionAll(inserts)
    return snapshot_changeset(
        current,
        incoming,
        key_cols=["o_orderkey"],
        compare_cols=["o_orderstatus", "o_totalprice", "o_orderpriority"],
    )


@query(
    "dim_scd2_user_state",
    oracle="""
    WITH changes AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events),
    starts AS (
      SELECT user_id, ts, event_id, event_type FROM changes
      WHERE prev_type IS NULL OR event_type <> prev_type),
    versions AS (
      SELECT user_id, event_type,
             ts AS valid_from,
             LEAD(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM starts)
    SELECT user_id, event_type,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
           COALESCE(strftime(valid_to, '%Y-%m-%d %H:%M:%S'), 'current')
             AS valid_to,
           CAST(valid_to IS NULL AS BOOLEAN) AS is_current
    FROM versions
    """,
)
def dim_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build: each user's event_type
    history compressed to validity intervals ``[valid_from, valid_to)``
    with the open 'current' version flagged — the warehouse pattern for
    tracking attribute history without overwriting.  Two window passes
    over the SAME (user, ts) sort (change detection via lag, interval
    close via lead on the shrunken change rows) — one shuffle on
    user_id, reused by both windows; the second window runs over change
    rows only, which is the frame after run-length compression."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    )
    versions = changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    return versions.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias(
            "valid_from"
        ),
        F.coalesce(
            F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss"),
            F.lit("current"),
        ).alias("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
    )


@query(
    "cdc_apply_changeset",
    oracle="""
    WITH cur AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10
               AS price_decicents,
             o_orderpriority
      FROM orders),
    incoming AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11
                  ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10
             END AS price_decicents,
             o_orderpriority
      FROM orders WHERE o_orderkey % 10 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10,
             o_orderpriority
      FROM orders WHERE o_orderkey % 13 = 0),
    changes AS (
      SELECT COALESCE(c.o_orderkey, i.o_orderkey) AS o_orderkey,
             CASE WHEN i.o_orderkey IS NULL THEN 'delete'
                  WHEN c.o_orderkey IS NULL THEN 'insert'
                  WHEN c.o_orderstatus IS DISTINCT FROM i.o_orderstatus
                    OR c.price_decicents IS DISTINCT FROM i.price_decicents
                    OR c.o_orderpriority IS DISTINCT FROM i.o_orderpriority
                  THEN 'update' ELSE 'unchanged' END AS change_type,
             i.o_orderstatus, i.price_decicents, i.o_orderpriority
      FROM cur c FULL OUTER JOIN incoming i
        ON c.o_orderkey = i.o_orderkey),
    delta AS (SELECT * FROM changes WHERE change_type <> 'unchanged')
    SELECT o_orderkey, o_orderstatus, price_decicents, o_orderpriority
    FROM cur
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta
                             WHERE change_type IN ('delete', 'update'))
    UNION ALL
    SELECT o_orderkey, o_orderstatus, price_decicents, o_orderpriority
    FROM delta WHERE change_type IN ('insert', 'update')
    """,
)
def cdc_apply_changeset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE half of the CDC loop (operators/cdc.py:
    apply_changeset): the same simulated incoming snapshot as
    cdc_changeset_orders is diffed against current (include_payload
    carries the new row values through the fingerprint join), and the
    changeset is APPLIED back — one left-anti join removes
    deleted/updated keys from the base, a union adds insert/update
    rows.  The applied snapshot must reproduce ``incoming`` exactly;
    the oracle recomputes the MERGE independently in DuckDB, so the
    whole diff→apply roundtrip is hash-checked.  Prices are quantized
    to exact deci-cent integers FIRST and the 10%% bump happens in
    integer space (×11 vs ×10) — ``round(price*1.1, 2)`` would tie on
    shortest-repr .xx5 values where Spark HALF_UP and DuckDB's
    binary-value rounding disagree.  At 100 TB: the diff job and the
    apply job each shuffle the base on its key once (zero-Exchange when
    snapshots are bucketed), and the base is never rewritten
    row-by-row.  This self-contained entry leaves the changeset LAZY,
    so its subtree evaluates twice (touched-keys leg + upsert leg);
    a production pipeline materializes the delta table between the two
    jobs — it is the CDC artifact — and pays the diff exactly once."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    current = o.select(
        "o_orderkey",
        "o_orderstatus",
        (cents * 10).alias("price_decicents"),
        "o_orderpriority",
    )
    base = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, cents * 11)
        .otherwise(cents * 10)
        .alias("price_decicents"),
        "o_orderpriority",
    )
    inserts = o.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_orderstatus",
        (cents * 10).alias("price_decicents"),
        "o_orderpriority",
    )
    incoming = base.unionAll(inserts)
    changeset = snapshot_changeset(
        current,
        incoming,
        key_cols=["o_orderkey"],
        compare_cols=[
            "o_orderstatus", "price_decicents", "o_orderpriority"
        ],
        include_payload=True,
    )
    return apply_changeset(current, changeset, key_cols=["o_orderkey"])


@query(
    "cdc_schema_changeset",
    oracle="""
    WITH cur AS (
      SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp,
             CASE WHEN o_orderkey % 4 = 0 THEN NULL
                  ELSE CAST(o_custkey AS VARCHAR) END AS legacy_note
      FROM orders),
    inc AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS tp,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  ELSE o_orderpriority END AS priority_code
      FROM orders WHERE o_orderkey % 10 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  ELSE o_orderpriority END
      FROM orders WHERE o_orderkey % 13 = 0)
    SELECT k AS o_orderkey, change_type,
           'priority_code' AS added_cols,
           'legacy_note' AS dropped_cols
    FROM (
      SELECT COALESCE(c.k, i.k) AS k,
             CASE WHEN i.k IS NULL THEN 'delete'
                  WHEN c.k IS NULL THEN 'insert'
                  WHEN c.st IS DISTINCT FROM i.st
                    OR c.tp IS DISTINCT FROM i.tp THEN 'update'
                  WHEN i.priority_code IS NOT NULL THEN 'schema_add'
                  WHEN c.legacy_note IS NOT NULL THEN 'schema_drop'
                  ELSE 'unchanged' END AS change_type
      FROM cur c FULL OUTER JOIN inc i ON c.k = i.k)
    WHERE change_type <> 'unchanged'
    """,
)
def cdc_schema_changeset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution-aware CDC diff (operators/cdc.py:
    snapshot_changeset_evolving — VERDICT r8 item 6): the incoming
    orders snapshot simultaneously changes DATA (10% of keys deleted,
    every 7th price bumped, every 13th re-inserted under a new id) and
    SCHEMA (gains ``priority_code``, loses ``legacy_note``).  Plain
    snapshot_changeset fingerprints shared columns only and is blind to
    the schema delta; the evolving variant classifies shared-unchanged
    keys that RECEIVED non-NULL added data as ``schema_add`` and keys
    that LOST non-NULL dropped data as ``schema_drop``; data updates
    dominate both.  The shuffle still
    moves only (key, fingerprint, two 1-byte flags)."""
    o = _t(spark, sf_dir, "orders")
    current = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 4 == 0, F.lit(None))
        .otherwise(F.col("o_custkey").cast("string"))
        .alias("legacy_note"),
    )
    priority_code = (
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("priority_code")
    )
    base = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 1.1
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        priority_code,
    )
    inserts = o.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
        priority_code,
    )
    return snapshot_changeset_evolving(
        current,
        base.unionAll(inserts),
        key_cols=["o_orderkey"],
    )


#: Shared by the batch and streaming SCD2 entries — both maintain the
#: same three planted customer snapshot versions, so one SQL oracle
#: (the independent LAG/LEAD formulation) checks both.
_SCD2_CUSTOMER_ORACLE = """
    WITH snaps AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acct_cents,
             1 AS v
      FROM customer
      UNION ALL
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN 'MIGRATED'
                  ELSE c_mktsegment END,
             CAST(ROUND(c_acctbal * 100) AS BIGINT), 2
      FROM customer
      UNION ALL
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN 'MIGRATED'
                  ELSE c_mktsegment END,
             CAST(ROUND(c_acctbal * 100) AS BIGINT)
               + CASE WHEN c_custkey % 5 = 0 THEN 1000 ELSE 0 END, 3
      FROM customer),
    lagged AS (
      SELECT *, LAG(seg) OVER w AS pseg, LAG(acct_cents) OVER w AS pac,
             LAG(v) OVER w AS pv
      FROM snaps WINDOW w AS (PARTITION BY k ORDER BY v)),
    opens AS (
      SELECT k, seg, acct_cents, v AS valid_from FROM lagged
      WHERE pv IS NULL OR seg IS DISTINCT FROM pseg
         OR acct_cents IS DISTINCT FROM pac)
    SELECT k AS c_custkey, seg AS c_mktsegment, acct_cents,
           CAST(valid_from AS INT) AS valid_from,
           CAST(LEAD(valid_from) OVER w2 AS INT) AS valid_to,
           (LEAD(valid_from) OVER w2 IS NULL) AS is_current
    FROM opens WINDOW w2 AS (PARTITION BY k ORDER BY valid_from)
    """


def _customer_scd2_versions(
    spark: SparkSession, sf_dir: str
) -> list[DataFrame]:
    """The three planted customer snapshot versions both SCD2 entries
    maintain: v2 migrates every 7th key's segment, v3 bumps every 5th
    key's balance (integer cents, the portable ROUND device)."""
    c = _t(spark, sf_dir, "customer")
    cents = F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").alias(
        "acct_cents"
    )
    migrated = (
        F.when(F.col("c_custkey") % 7 == 0, F.lit("MIGRATED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment")
    )
    v1 = c.select(
        "c_custkey", F.col("c_mktsegment"), cents, F.lit(1).alias("v")
    )
    v2 = c.select("c_custkey", migrated, cents, F.lit(2).alias("v"))
    v3 = c.select(
        "c_custkey",
        migrated,
        (
            F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)")
            + F.when(F.col("c_custkey") % 5 == 0, F.lit(1000)).otherwise(
                F.lit(0)
            )
        ).alias("acct_cents"),
        F.lit(3).alias("v"),
    )
    return [v1, v2, v3]


@query("cdc_scd2_history", oracle=_SCD2_CUSTOMER_ORACLE)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension TYPE 2 build (operators/cdc.py:
    scd2_history): three stacked snapshot versions of the customer
    dimension — v2 migrates every 7th key's segment, v3 bumps every
    5th key's balance — collapse into validity intervals
    ``(valid_from, valid_to, is_current)``, the dimension-history
    table every warehouse maintains on top of CDC feeds.  Unchanged
    keys keep ONE open interval; changed keys close the old interval
    at the change version (half-open).  One shuffle on the key: the
    change-detection lag and the interval-closing lead ride the same
    window sort.  Balances compare in integer cents (the portable
    ROUND device), so every interval hashes identically cross-engine."""
    v1, v2, v3 = _customer_scd2_versions(spark, sf_dir)
    return scd2_history(
        v1.unionByName(v2).unionByName(v3),
        key_cols=["c_custkey"],
        tracked_cols=["c_mktsegment", "acct_cents"],
        version_col="v",
    )
