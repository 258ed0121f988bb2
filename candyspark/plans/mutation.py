"""Mutation family queries: MERGE upsert, CDC snapshot diff, SCD2 history.

Driver-visible, oracle-checked exercises of operators/mutation.py. Each
derives its "other table version" deterministically from the testdata
itself (no side files), so the DuckDB oracle can state the same scenario
in pure SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from candyspark.operators.mutation import merge_upsert, scd2_history, snapshot_diff
from candyspark.operators.text import char_hash32
from candyspark.sources.readers import load_table


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO customer: BUILDING customers get an account credit
    (matched → update), AUTOMOBILE customers re-enter under offset keys
    (not matched → insert), everyone else persists untouched.

    Scale: one full-outer shuffle on custkey; at 100 TB the physical write
    would be copy-on-write over the partitions the source touches — the
    join itself is the whole read path.
    """
    t = load_table(spark, sf_dir, "customer")
    updates = t.filter(F.col("c_mktsegment") == "BUILDING").withColumn(
        "c_acctbal", F.col("c_acctbal") + 100
    )
    inserts = t.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("NEW_"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    source = updates.unionByName(inserts)
    return merge_upsert(t, source, ["c_custkey"]).orderBy("c_custkey")


MERGE_UPSERT_SQL = """
WITH source AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal, c_mktsegment
  FROM customer WHERE c_mktsegment = 'BUILDING'
  UNION ALL
  SELECT c_custkey + 1000000, 'NEW_' || c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
)
SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name ELSE t.c_name END AS c_name,
       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey ELSE t.c_nationkey END
         AS c_nationkey,
       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal ELSE t.c_acctbal END
         AS c_acctbal,
       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment ELSE t.c_mktsegment END
         AS c_mktsegment
FROM customer t FULL OUTER JOIN source s ON t.c_custkey = s.c_custkey
ORDER BY c_custkey
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two order-table versions: the 1999 snapshot vs the 2000
    snapshot where urgent orders got repriced (+10) and 'P'-status orders
    were purged — classifies every key as insert / delete / update and
    drops the unchanged majority.

    Scale: one full-outer shuffle on orderkey; the classification and the
    NULL-safe column compares are codegen expressions on the joined row —
    no second pass, no driver collection of either snapshot.
    """
    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))
    new = (
        o.filter(
            (F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp"))
            & (F.col("o_orderstatus") != "P")
        ).withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice") + 10
            ).otherwise(F.col("o_totalprice")),
        )
    )
    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    ).orderBy("o_orderkey")


SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice + 10
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders
  WHERE o_orderdate < TIMESTAMP '2001-01-01' AND o_orderstatus <> 'P'
)
SELECT * FROM (
  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus) THEN 'update'
         END AS change_type,
         COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_totalprice
              ELSE o.o_totalprice END AS o_totalprice,
         CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_orderstatus
              ELSE o.o_orderstatus END AS o_orderstatus
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
WHERE change_type IS NOT NULL
ORDER BY o_orderkey
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history from the events change log: per user, the
    validity interval of each observed event_type, consecutive duplicates
    collapsed, open intervals NULL-terminated.

    Scale: one window shuffle on user_id serves both the duplicate
    collapse (lag) and the interval close (lead) — Catalyst reuses the
    partitioning, so no second exchange. Deterministic under timestamp
    ties via the (ts, event_id) composite order.
    """
    e = load_table(spark, sf_dir, "events")
    return scd2_history(
        e, ["user_id"], "ts", ["event_type"], order_cols=["ts", "event_id"]
    ).orderBy("user_id", "valid_from", "event_type")


SCD2_HISTORY_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, ts, event_id, event_type FROM ordered
  WHERE prev_type IS NULL OR event_type IS DISTINCT FROM prev_type
)
SELECT user_id, event_type, ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
FROM changes
ORDER BY user_id, valid_from, event_type
"""


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply an ordered change-data-capture log with DELETE semantics —
    the op merge_upsert/scd2_history don't cover: the events stream is
    read as a changelog keyed on user_id (signup/view/click/purchase →
    upsert with the event's value; error → tombstone), ordered by
    (ts, event_id) as the total order, and folded to final state:
    last-op-wins, so a tombstone erases the key unless a LATER upsert
    resurrects it — exactly Debezium-style snapshot materialization.

    One window over the key (rank desc by the total order) picks each
    key's final op; tombstone-final keys drop out. n_ops ships per
    surviving key so the fold is auditable. Scale: one shuffle on the
    key — the same posture as latest_per_key; at 100 TB the apply runs
    per partition of a log already bucketed by key.
    """
    e = load_table(spark, sf_dir, "events")
    log = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = log.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        "op",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_ops"),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("op") == "upsert"))
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
            F.col("n_ops").cast("long").alias("n_ops"),
        )
        .orderBy("user_id")
    )


CDC_APPLY_SQL = """
WITH log AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
    FROM events
),
ranked AS (
    SELECT user_id, ts, event_id, value, op,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n_ops
    FROM log
)
SELECT user_id, ts AS last_ts, value AS last_value,
       CAST(n_ops AS BIGINT) AS n_ops
FROM ranked
WHERE rn = 1 AND op = 'upsert'
ORDER BY user_id
"""


def q_idempotency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once audit over a retried event feed: ingest pipelines see
    producer retries (same event_id re-sent later) and the dangerous
    subset — retries whose PAYLOAD differs (a mutation hiding behind an
    id, which last-writer-wins silently resolves and an idempotent upsert
    silently ignores; either way you want the count). The fixture events
    carry unique ids, so the retry feed is SIMULATED deterministically
    in-query: the md5-bucket(event_id) % 20 == 0 slice re-arrives 90 s
    later, and the % 100 == 0 sub-slice re-arrives with a drifted value.
    The audit itself is the production query: per event_type, row/id
    counts, duplicated ids, and conflicting ids — one groupBy(id) pass
    then a bounded rollup, scan-linear at any scale."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    bucket = char_hash32(F.col("event_id").cast("string"))
    retries = e.filter(bucket % 20 == 0).select(
        "event_id",
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 90 SECONDS")).alias("ts"),
        F.when(bucket % 100 == 0, F.col("value") + 1.0)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    feed = e.unionByName(retries)
    per_id = feed.groupBy("event_type", "event_id").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.countDistinct("value").cast("long").alias("n_vals"),
    )
    return (
        per_id.groupBy("event_type")
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_ids"),
            F.sum((F.col("cnt") > 1).cast("long")).cast("long").alias("n_dup_ids"),
            F.sum((F.col("n_vals") > 1).cast("long"))
            .cast("long")
            .alias("n_conflicting_ids"),
        )
        .orderBy("event_type")
    )


IDEMPOTENCY_AUDIT_SQL = """
WITH base AS (
    SELECT event_id, event_type, ts, value,
           CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                AS BIGINT) AS bucket
    FROM events
),
feed AS (
    SELECT event_id, event_type, ts, value FROM base
    UNION ALL
    SELECT event_id, event_type, ts + INTERVAL 90 SECOND,
           CASE WHEN bucket % 100 = 0 THEN value + 1.0 ELSE value END
    FROM base WHERE bucket % 20 = 0
),
per_id AS (
    SELECT event_type, event_id,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(DISTINCT value) AS BIGINT) AS n_vals
    FROM feed GROUP BY 1, 2
)
SELECT event_type,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_ids,
       CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_ids,
       CAST(SUM(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_conflicting_ids
FROM per_id
GROUP BY event_type
ORDER BY event_type
"""
