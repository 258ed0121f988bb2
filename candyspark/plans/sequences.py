"""Sequence / incremental-maintenance plans: gaps-and-islands, growth
accounting, multi-touch attribution, ordered-path matching, and
partial-aggregate merge (incremental materialized-view refresh).

Extension surface — the reference has no window functions at all
(SURVEY.md §2.6) and its only notion of "incremental" is re-running the
whole batch (src/data_processor.py:353-436, the per-day driver loop).
These six shapes are the standard sequence workloads of a production
warehouse, each expressed so both engines compute bit-identical values:

- ``activity_streaks`` — classic gaps-and-islands: consecutive-active-day
  runs per user via the ``epoch_day − row_number`` island key. Integer
  arithmetic end to end; one user_id window pass, then per-(user, island)
  and per-user hash aggregates that all reuse the same user_id exchange.
- ``new_vs_returning`` — daily growth accounting: DAU, first-seen new
  users, returning = DAU − new, and the running cumulative user count.
  The cumulative window is a single partition BY DESIGN over the per-day
  aggregate (≤ one row per calendar day — thousands of rows at any SF),
  never over raw events.
- ``mom_growth`` — month-over-month revenue growth and rank movement per
  nation: two window families (lag over nation-partitioned months; rank
  over month-partitioned nations) over one join-aggregate. Revenue stays
  exact decimal through the aggregate; the growth ratio divides two
  doubles that both engines derived from the same exact decimal, then
  snaps (functions/numeric.snap_round discipline).
- ``linear_attribution`` — multi-touch credit: each purchase splits its
  value equally across the user's touches in the prior 24 h. The
  interval self-join is bounded by the attribution window (same scale
  posture as operators/temporal.py's banded range join: at 100 TB,
  bucket both sides by (user_id, time-band) first). Per-touch credit is
  snapped to DECIMAL(18,6) BEFORE the sum so the engine-side aggregate
  is exact and partial-order-independent.
- ``mv_incremental_refresh`` — incremental materialized-view maintenance:
  COUNT/SUM partials computed on a base slice and a delta slice are
  merged by re-aggregation, proving the algebraic-mergeability contract
  (sum-of-sums, sum-of-counts) that makes the view maintainable without
  a full rescan at 100 TB. The oracle is the full recompute — the merge
  must be semantically invisible.
- ``event_path_match`` — ordered-sequence pattern detection: per
  (user, day) the event-type initials are concatenated in (ts, event_id)
  total order and matched against the view→click→purchase regex. Spark
  builds the ordered string via ``array_sort(collect_list(struct(...)))``
  — collect_list alone has NO ordering guarantee — and the path length
  is bounded by events-per-user-day, so the row never blows up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from candyspark.functions.numeric import money, round2, snap_round
from candyspark.sources.readers import load_table


# --- gaps-and-islands --------------------------------------------------------


def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user (gaps-and-islands).

    ``d − row_number()`` is constant exactly while days are consecutive, so
    it names the island. All integer math (epoch days), identical in both
    engines. One shuffle: the row_number window, the (user, island) agg,
    and the per-user agg all hash on user_id and AQE reuses the exchange.
    """
    e = load_table(spark, sf_dir, "events")
    days = (
        e.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d"),
        )
        .dropDuplicates()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn("island", F.col("d") - F.row_number().over(w))
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.sum("streak_len").cast("long").alias("active_days"),
            F.max("streak_len").alias("longest_streak"),
            F.count(F.lit(1)).alias("n_streaks"),
        )
        .orderBy("user_id")
    )


ACTIVITY_STREAKS_SQL = """
WITH days AS (
    SELECT DISTINCT user_id,
           date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
    FROM events
),
islands AS (
    SELECT user_id, d,
           d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS island
    FROM days
),
streaks AS (
    SELECT user_id, island, COUNT(*) AS streak_len
    FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(SUM(streak_len) AS BIGINT) AS active_days,
       MAX(streak_len) AS longest_streak,
       COUNT(*) AS n_streaks
FROM streaks
GROUP BY user_id
ORDER BY user_id
"""


# --- growth accounting -------------------------------------------------------


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU split into first-seen vs returning, plus the running user base.

    Two aggregates off one scan (daily actives; first-seen day per user →
    new-user counts), joined on the day, then ONE cumulative window over
    the per-day aggregate — ≤ 1 row per calendar day at any SF, so the
    single-partition window is bounded by the calendar, not the data.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    daily = e.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))
    news = (
        e.groupBy("user_id")
        .agg(F.min("d").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        daily.join(news, "d", "left")
        .select("d", "dau", F.coalesce("new_users", F.lit(0)).alias("new_users"))
        .withColumn("returning", F.col("dau") - F.col("new_users"))
        .withColumn("cumulative_users", F.sum("new_users").over(cum).cast("long"))
        .orderBy("d")
    )


NEW_VS_RETURNING_SQL = """
WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
daily AS (SELECT d, COUNT(DISTINCT user_id) AS dau FROM e GROUP BY d),
news AS (
    SELECT d, COUNT(*) AS new_users
    FROM (SELECT user_id, MIN(d) AS d FROM e GROUP BY user_id)
    GROUP BY d
)
SELECT daily.d, dau,
       COALESCE(new_users, 0) AS new_users,
       dau - COALESCE(new_users, 0) AS returning,
       CAST(SUM(COALESCE(new_users, 0))
            OVER (ORDER BY daily.d ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cumulative_users
FROM daily LEFT JOIN news ON daily.d = news.d
ORDER BY daily.d
"""


# --- month-over-month growth + rank movement ---------------------------------


def q_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue per nation with MoM growth %, rank, and rank shift.

    orders ⨝ customer shuffles on custkey (both fact-sized at 100 TB);
    nation stays an explicit broadcast (25 rows at ANY SF). The aggregate
    collapses to ≤ 25 × months rows, so both window families (lag within
    nation, rank within month) run over the aggregate, never the facts.
    Revenue is exact decimal; the growth ratio divides the two doubles
    both engines derive from that decimal, then snaps at 4 dp.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
        )
        .agg(F.sum(money("o_totalprice")).alias("rev_dec"))
    )
    lagw = Window.partitionBy("nation").orderBy("month")
    rankw = Window.partitionBy("month").orderBy(F.desc("rev_dec"), "nation")
    rev = F.col("rev_dec").cast("double")
    prev = F.lag("rev_dec").over(lagw).cast("double")
    return monthly.select(
        "nation",
        "month",
        round2(rev).alias("revenue"),
        snap_round((rev - prev) / prev, 4).alias("growth_pct"),
        F.rank().over(rankw).alias("rnk"),
        (F.lag(F.rank().over(rankw)).over(lagw) - F.rank().over(rankw)).alias(
            "rank_delta"
        ),
    ).orderBy("nation", "month")


MOM_GROWTH_SQL = """
WITH monthly AS (
    SELECT n_name AS nation,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2
),
ranked AS (
    SELECT nation, month, rev_dec,
           RANK() OVER (PARTITION BY month ORDER BY rev_dec DESC, nation) AS rnk
    FROM monthly
)
SELECT nation, month,
       CAST(ROUND(CAST(rev_dec AS DOUBLE), 2) AS DOUBLE) AS revenue,
       CAST(ROUND(CAST((CAST(rev_dec AS DOUBLE)
                        - LAG(CAST(rev_dec AS DOUBLE))
                              OVER (PARTITION BY nation ORDER BY month))
                       / LAG(CAST(rev_dec AS DOUBLE))
                             OVER (PARTITION BY nation ORDER BY month)
                       AS DECIMAL(28,8)), 4) AS DOUBLE) AS growth_pct,
       rnk,
       LAG(rnk) OVER (PARTITION BY nation ORDER BY month) - rnk AS rank_delta
FROM ranked
ORDER BY nation, month
"""


# --- multi-touch attribution -------------------------------------------------


def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    equally across that user's view/click/signup touches in the prior
    24 h (touches strictly before the purchase instant).

    The per-conversion touch count comes from ONE window over the joined
    pairs (no second join back). Credit is snapped to DECIMAL(18,6) per
    pair BEFORE summing, so the final per-channel totals are exact and
    independent of partial-aggregation order — the property that keeps
    the answer stable across 1000 executors.
    """
    e = load_table(spark, sf_dir, "events")
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("conv_ts"),
        "value",
    )
    touch = e.filter(F.col("event_type").isin("view", "click", "signup")).select(
        F.col("user_id").alias("tu"),
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("channel"),
    )
    pairs = conv.join(
        touch,
        (F.col("cu") == F.col("tu"))
        & (F.col("touch_ts") < F.col("conv_ts"))
        & (F.col("touch_ts") >= F.col("conv_ts") - F.expr("INTERVAL 24 HOURS")),
    )
    per_conv = Window.partitionBy("conv_id")
    credit = (
        F.round(
            (F.col("value") / F.count(F.lit(1)).over(per_conv)).cast("decimal(28,8)"),
            6,
        )
        .cast("decimal(18,6)")
    )
    return (
        pairs.select("channel", credit.alias("credit"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("credit").cast("double").alias("credited_value"),
        )
        .orderBy("channel")
    )


LINEAR_ATTRIBUTION_SQL = """
WITH pairs AS (
    SELECT c.event_id AS conv_id, c.value,
           t.event_type AS channel
    FROM events c
    JOIN events t
      ON t.user_id = c.user_id
     AND t.ts < c.ts
     AND t.ts >= c.ts - INTERVAL 24 HOUR
    WHERE c.event_type = 'purchase'
      AND t.event_type IN ('view', 'click', 'signup')
),
credits AS (
    SELECT channel,
           CAST(ROUND(CAST(value / COUNT(*) OVER (PARTITION BY conv_id)
                           AS DECIMAL(28,8)), 6) AS DECIMAL(18,6)) AS credit
    FROM pairs
)
SELECT channel, COUNT(*) AS n_touches,
       CAST(SUM(credit) AS DOUBLE) AS credited_value
FROM credits
GROUP BY channel
ORDER BY channel
"""


# --- incremental materialized-view refresh -----------------------------------

_MV_CUTOFF = "1998-01-01"


def q_mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV maintenance: merge base-slice and delta-slice
    COUNT/SUM partials by re-aggregation (sum-of-counts, sum-of-sums).

    The oracle is the FULL recompute over all orders — the merge must be
    semantically invisible, which is exactly the algebraic-aggregate
    contract that lets a 100 TB view absorb a day's delta without
    rescanning history. Exact decimal sums make the merge bit-identical
    regardless of how the partials were partitioned.
    """
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(_MV_CUTOFF).cast("date")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(money("o_totalprice")).alias("s"),
        )

    base = partial(o.filter(F.to_date("o_orderdate") < cutoff))
    delta = partial(o.filter(F.to_date("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("cnt").cast("long").alias("n_orders"),
            F.sum("s").cast("double").alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


MV_INCREMENTAL_REFRESH_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- ordered-path pattern matching -------------------------------------------


def q_event_path_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day funnel-path detection: concatenate each (user, day)'s
    event-type initials in (ts, event_id) total order and regex-match the
    view→click→purchase path; report per-day match share.

    collect_list has NO ordering guarantee in Spark, so the order is
    imposed by sorting structs keyed (ts, event_id) before joining the
    initials — the same total-order discipline as the allocator
    (SURVEY.md §2.9). Path length is bounded by events-per-user-day;
    the per-day rollup then reuses nothing heavier than a 31-row agg.
    """
    e = load_table(spark, sf_dir, "events")
    ini = F.substring("event_type", 1, 1)  # v/c/p/s/e — initials are unique
    per_user_day = (
        e.select(
            "user_id",
            F.to_date("ts").alias("d"),
            F.struct(F.col("ts"), F.col("event_id"), ini.alias("ini")).alias("evt"),
        )
        .groupBy("user_id", "d")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("evt")), lambda x: x["ini"]
                ),
                "",
            ).alias("path")
        )
    )
    matched = F.col("path").rlike("v.*c.*p").cast("int")
    return (
        per_user_day.groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_user_days"),
            F.sum(matched).cast("long").alias("n_matched"),
        )
        .withColumn(
            "match_share", snap_round(F.col("n_matched") / F.col("n_user_days"), 4)
        )
        .orderBy("d")
    )


EVENT_PATH_MATCH_SQL = """
WITH paths AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS path
    FROM events
    GROUP BY user_id, CAST(ts AS DATE)
)
SELECT d, COUNT(*) AS n_user_days,
       CAST(SUM(CASE WHEN regexp_matches(path, 'v.*c.*p') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched,
       CAST(ROUND(CAST(SUM(CASE WHEN regexp_matches(path, 'v.*c.*p')
                                THEN 1 ELSE 0 END)
                       / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,8)), 4)
            AS DOUBLE) AS match_share
FROM paths
GROUP BY d
ORDER BY d
"""


# --- conditional-reset runs --------------------------------------------------


def q_error_free_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user error-free run lengths: position of each event minus the
    position of the user's most recent 'error' — a running counter that
    RESETS on a condition, expressed as ``rn − max(error_rn) over
    preceding`` (no loop, no state kernel). Reports the longest error-free
    run, total events, and error count per user. All integer math; both
    windows and the aggregate share the one user_id exchange.
    """
    e = load_table(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rn = F.row_number().over(seq)
    err_rn = F.max(
        F.when(F.col("event_type") == "error", F.row_number().over(seq))
    ).over(run)
    return (
        e.select(
            "user_id",
            F.col("event_type"),
            (rn - F.coalesce(err_rn, F.lit(0))).alias("run_len"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("event_type") == "error").cast("int"))
            .cast("long")
            .alias("n_errors"),
            F.max("run_len").alias("longest_error_free_run"),
        )
        .orderBy("user_id")
    )


ERROR_FREE_RUNS_SQL = """
WITH seq AS (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
),
runs AS (
    SELECT user_id, event_type,
           rn - COALESCE(MAX(CASE WHEN event_type = 'error' THEN rn END)
                             OVER (PARTITION BY user_id ORDER BY rn
                                   ROWS UNBOUNDED PRECEDING), 0) AS run_len
    FROM seq
)
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_errors,
       MAX(run_len) AS longest_error_free_run
FROM runs
GROUP BY user_id
ORDER BY user_id
"""


# --- rolling active-user windows ---------------------------------------------


def q_active_user_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the engagement
    dashboard's headline ratio. COUNT(DISTINCT) over a sliding window has
    no direct window-function form (distinct isn't decomposable across
    overlapping frames), so the scalable idiom is contribute-then-count:
    each (user, active-day) row is exploded to the ≤7 report days it
    contributes to (sequence + explode, JVM-side), then one exact
    countDistinct per report day. At 100 TB the 7× inflation of the
    ALREADY-deduplicated per-user-day relation is far smaller than the raw
    event volume it replaced.

    Reported for days with DAU ≥ 1 (the dau frame's days); stickiness =
    DAU/WAU from exact longs, snapped. Scale: one (user_id, d) dedup
    shuffle (materialized once — DAU and WAU both consume it), then two
    day-keyed aggregates.
    """
    e = load_table(spark, sf_dir, "events")
    ud = (
        e.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d"),
        )
        .dropDuplicates()
        .localCheckpoint()
    )
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("day"),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, F.col("d") == F.col("day"))
        .select(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("d").cast("int")).alias(
                "day"
            ),
            "dau",
            "wau",
            snap_round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


ACTIVE_USER_WINDOWS_SQL = """
WITH ud AS (
    SELECT DISTINCT user_id,
           date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
    FROM events
),
dau AS (SELECT d, COUNT(*) AS dau FROM ud GROUP BY d),
wau AS (
    SELECT day, COUNT(DISTINCT user_id) AS wau
    FROM (SELECT user_id, unnest(generate_series(d, d + 6)) AS day FROM ud)
    GROUP BY day
)
SELECT DATE '1970-01-01' + CAST(d AS INTEGER) AS day, dau, wau,
       CAST(ROUND(CAST(CAST(dau AS DOUBLE) / wau AS DECIMAL(28,8)), 6) AS DOUBLE)
         AS stickiness
FROM dau JOIN wau ON d = day
ORDER BY day
"""


# --- position-based (U-shaped) attribution -----------------------------------


def q_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution: the
    first and last touch before each purchase take 40% of its value each,
    the middle touches split the remaining 20% — the credit model that
    values discovery and closing over the path middle (sibling of
    q_linear_attribution; same join bound, different credit curve).

    Touch ordinal and touch count come from ONE window family over the
    joined pairs (same conv_id exchange); the share is exact rational
    arithmetic until the one snapped multiply, summed as DECIMAL — totals
    are partial-order-independent.
    """
    e = load_table(spark, sf_dir, "events")
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("conv_ts"),
        "value",
    )
    touch = e.filter(F.col("event_type").isin("view", "click", "signup")).select(
        F.col("user_id").alias("tu"),
        F.col("ts").alias("touch_ts"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
    )
    pairs = conv.join(
        touch,
        (F.col("cu") == F.col("tu"))
        & (F.col("touch_ts") < F.col("conv_ts"))
        & (F.col("touch_ts") >= F.col("conv_ts") - F.expr("INTERVAL 24 HOURS")),
    )
    per_conv = Window.partitionBy("conv_id")
    rn = F.row_number().over(per_conv.orderBy("touch_ts", "touch_id"))
    n = F.count(F.lit(1)).over(per_conv)
    share = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when(rn == 1, F.lit(0.4))
        .when(rn == n, F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - 2).cast("double"))
    )
    credit = (
        F.round((F.col("value") * share).cast("decimal(28,8)"), 6)
        .cast("decimal(18,6)")
    )
    return (
        pairs.select("channel", credit.alias("credit"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("credit").cast("double").alias("credited_value"),
        )
        .orderBy("channel")
    )


POSITION_ATTRIBUTION_SQL = """
WITH pairs AS (
    SELECT c.event_id AS conv_id, c.value,
           t.event_type AS channel,
           ROW_NUMBER() OVER (PARTITION BY c.event_id
                              ORDER BY t.ts, t.event_id) AS rn,
           COUNT(*) OVER (PARTITION BY c.event_id) AS n
    FROM events c
    JOIN events t
      ON t.user_id = c.user_id
     AND t.ts < c.ts
     AND t.ts >= c.ts - INTERVAL 24 HOURS
     AND c.event_type = 'purchase'
     AND t.event_type IN ('view', 'click', 'signup')
),
credited AS (
    SELECT channel,
           CAST(ROUND(CAST(value * (CASE WHEN n = 1 THEN 1.0
                                         WHEN n = 2 THEN 0.5
                                         WHEN rn = 1 THEN 0.4
                                         WHEN rn = n THEN 0.4
                                         ELSE 0.2 / CAST(n - 2 AS DOUBLE) END)
                           AS DECIMAL(28,8)), 6) AS DECIMAL(18,6)) AS credit
    FROM pairs
)
SELECT channel, COUNT(*) AS n_touches,
       CAST(SUM(credit) AS DOUBLE) AS credited_value
FROM credited
GROUP BY channel
ORDER BY channel
"""


# --- cohort LTV curves -------------------------------------------------------


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-purchase week,
    cumulative revenue per cohort member at each week of age — the
    monetized deepening of retention_cohorts (which counts the SAME
    cohorts but only whether users came back, not what they spent).

    Week grain, not month: the events fixture spans one calendar month,
    so monthly cohorts collapse to a single (cohort, 0) row and the gate
    certifies nothing (round-2 verdict's vacuous-gate finding) — weekly
    cohorts give a real curve; the operator's logic is grain-agnostic.

    Weeks are exact integers (days since the 1970-01-05 Monday epoch ÷ 7,
    floor — both engines' datediff agrees by definition); revenue stays
    DECIMAL through the cumulative window (runs over the ≤cohorts×ages
    post-aggregate, never raw events); LTV divides by cohort size once at
    the end and snaps. The per-user first-purchase relation feeds the age
    join AND the cohort-size aggregate — materialized once.

    Scale: one user_id aggregate, one user_id-keyed join back, one
    (cohort, age) aggregate; the cumulative window partitions by cohort.
    """
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-05").cast("date"))
            / 7
        ).alias("m"),
        F.col("value").cast("decimal(12,2)").alias("rev"),
    )
    users = (
        p.groupBy("user_id").agg(F.min("m").alias("cohort_m")).localCheckpoint()
    )
    sizes = users.groupBy("cohort_m").agg(F.count(F.lit(1)).alias("cohort_users"))
    by_age = (
        p.join(users, "user_id")
        .groupBy("cohort_m", (F.col("m") - F.col("cohort_m")).alias("age_months"))
        .agg(F.sum("rev").alias("rev"))
    )
    w = Window.partitionBy("cohort_m").orderBy("age_months").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = by_age.withColumn("cum_rev", F.sum("rev").over(w))
    return (
        cum.join(sizes, "cohort_m")
        .select(
            F.date_add(
                F.lit("1970-01-05").cast("date"),
                (F.col("cohort_m") * 7).cast("int"),
            ).alias("cohort_week"),
            F.col("age_months").cast("int").alias("age_weeks"),
            "cohort_users",
            F.col("cum_rev").cast("double").alias("cum_revenue"),
            snap_round(
                F.col("cum_rev").cast("double") / F.col("cohort_users").cast("double"),
                6,
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort_week", "age_weeks")
    )


COHORT_LTV_SQL = """
WITH p AS (
    SELECT user_id,
           CAST(FLOOR(DATEDIFF('day', DATE '1970-01-05', CAST(ts AS DATE)) / 7)
                AS BIGINT) AS m,
           CAST(value AS DECIMAL(12,2)) AS rev
    FROM events WHERE event_type = 'purchase'
),
users AS (SELECT user_id, MIN(m) AS cohort_m FROM p GROUP BY user_id),
sizes AS (SELECT cohort_m, COUNT(*) AS cohort_users FROM users GROUP BY cohort_m),
by_age AS (
    SELECT cohort_m, p.m - cohort_m AS age_weeks, SUM(rev) AS rev
    FROM p JOIN users USING (user_id)
    GROUP BY 1, 2
),
cum AS (
    SELECT cohort_m, age_weeks,
           SUM(rev) OVER (PARTITION BY cohort_m ORDER BY age_weeks
                          ROWS UNBOUNDED PRECEDING) AS cum_rev
    FROM by_age
)
SELECT DATE '1970-01-05' + CAST(cohort_m * 7 AS INTEGER) AS cohort_week,
       CAST(age_weeks AS INTEGER) AS age_weeks,
       cohort_users,
       CAST(cum_rev AS DOUBLE) AS cum_revenue,
       CAST(ROUND(CAST(CAST(cum_rev AS DOUBLE) / cohort_users AS DECIMAL(28,8)), 6)
            AS DOUBLE) AS ltv_per_user
FROM cum JOIN sizes USING (cohort_m)
ORDER BY cohort_week, age_weeks
"""


def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution — the game-theoretic member
    that completes the attribution family: linear/position (rule-based,
    this module) → Markov removal effect (plans/ml.py) → Shapley, the
    axiomatic gold standard (efficiency + symmetry + null player). With
    k=3 touch channels (view/click/signup) the coalition lattice has 2³=8
    cells, so the EXACT value is computable: φ_i = Σ_{S∌i}
    |S|!(k−|S|−1)!/k! · (v(S∪{i}) − v(S)), with v(S) = conversion rate of
    users whose touched-channel set is exactly S (coalitions never
    observed contribute v = 0 — the standard empirical-lattice convention,
    stated rather than hidden).

    Scale: the corpus collapses ONCE to user-grain bitmasks (one map-side-
    combined shuffle), then to the ≤8-row coalition lattice; the Shapley
    sweep is a literal 8×3 subset frame joined against that lattice —
    constant-sized whatever the event volume. Exact k! weights are the
    rationals {2,1,2}/6 as integer numerators; v is a ratio of exact
    longs, each weighted marginal snaps to decimal, per-channel sums are
    exact, one final snap.
    """
    e = load_table(spark, sf_dir, "events")
    users = e.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("journey_day")
    ).agg(
        (
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
            + 2 * F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
            + 4 * F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        ).alias("mask"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    lattice = (
        users.groupBy("mask")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("conv").cast("long").alias("n_conv"),
        )
        .localCheckpoint()
    )
    channels = spark.createDataFrame(
        [(1, "view"), (2, "click"), (4, "signup")], "bit int, channel string"
    )
    subsets = (
        spark.range(8)
        .select(F.col("id").cast("int").alias("s"))
        .crossJoin(channels)
        .filter((F.col("s").bitwiseAND(F.col("bit"))) == 0)
        .select(
            "channel",
            "s",
            (F.col("s") + F.col("bit")).alias("s_with"),
            (
                (F.col("s").bitwiseAND(F.lit(1)))
                + (F.shiftright(F.col("s"), 1).bitwiseAND(F.lit(1)))
                + (F.shiftright(F.col("s"), 2).bitwiseAND(F.lit(1)))
            ).alias("cardinality"),
        )
        .withColumn(
            "w_num",
            F.when(F.col("cardinality") == 1, F.lit(1)).otherwise(F.lit(2)),
        )
    )
    v = lambda side: F.coalesce(  # noqa: E731
        F.col(f"n_conv_{side}").cast("double")
        / F.col(f"n_users_{side}").cast("double"),
        F.lit(0.0),
    )
    lat_s = lattice.select(
        F.col("mask").alias("s"),
        F.col("n_users").alias("n_users_s"),
        F.col("n_conv").alias("n_conv_s"),
    )
    lat_w = lattice.select(
        F.col("mask").alias("s_with"),
        F.col("n_users").alias("n_users_w"),
        F.col("n_conv").alias("n_conv_w"),
    )
    terms = (
        subsets.join(F.broadcast(lat_s), "s", "left")
        .join(F.broadcast(lat_w), "s_with", "left")
        .select(
            "channel",
            F.round(
                (
                    F.col("w_num").cast("double")
                    * (v("w") - v("s"))
                    / 6.0
                ).cast("decimal(28,12)"),
                10,
            )
            .cast("decimal(24,10)")
            .alias("term"),
        )
    )
    total = lattice.agg(
        F.sum("n_users").cast("long").alias("n_all"),
        F.sum("n_conv").cast("long").alias("conv_all"),
    )
    return (
        terms.groupBy("channel")
        .agg(F.sum("term").alias("phi_sum"))
        .crossJoin(F.broadcast(total))
        .select(
            "channel",
            snap_round(F.col("phi_sum").cast("double"), 6).alias("shapley_value"),
            snap_round(
                F.col("conv_all").cast("double") / F.col("n_all").cast("double"),
                6,
            ).alias("overall_conv_rate"),
        )
        .orderBy("channel")
    )


SHAPLEY_ATTRIBUTION_SQL = """
WITH users AS (
    SELECT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS journey_day,
           MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             + 2 * MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             + 4 * MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS mask,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
    FROM events GROUP BY user_id, CAST(DATE_TRUNC('day', ts) AS DATE)
),
lattice AS (
    SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(conv) AS BIGINT) AS n_conv
    FROM users GROUP BY mask
),
channels AS (SELECT * FROM (VALUES (1, 'view'), (2, 'click'), (4, 'signup'))
             AS t(bit, channel)),
subsets AS (
    SELECT channel,
           CAST(s AS INTEGER) AS s,
           CAST(s + bit AS INTEGER) AS s_with,
           (CAST(s AS INTEGER) & 1) + ((CAST(s AS INTEGER) >> 1) & 1)
             + ((CAST(s AS INTEGER) >> 2) & 1) AS cardinality
    FROM range(0, 8) r(s) CROSS JOIN channels
    WHERE (CAST(s AS INTEGER) & bit) = 0
),
terms AS (
    SELECT channel,
           CAST(ROUND(CAST(
               CAST(CASE WHEN cardinality = 1 THEN 1 ELSE 2 END AS DOUBLE)
               * (COALESCE(CAST(lw.n_conv AS DOUBLE) / CAST(lw.n_users AS DOUBLE), 0.0)
                  - COALESCE(CAST(ls.n_conv AS DOUBLE) / CAST(ls.n_users AS DOUBLE), 0.0))
               / 6.0
               AS DECIMAL(28,12)), 10) AS DECIMAL(24,10)) AS term
    FROM subsets
    LEFT JOIN lattice ls ON ls.mask = subsets.s
    LEFT JOIN lattice lw ON lw.mask = subsets.s_with
),
total AS (SELECT CAST(SUM(n_users) AS BIGINT) AS n_all,
                 CAST(SUM(n_conv) AS BIGINT) AS conv_all FROM lattice)
SELECT channel,
       CAST(ROUND(CAST(CAST(SUM(term) AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS shapley_value,
       CAST(ROUND(CAST(CAST(conv_all AS DOUBLE) / CAST(n_all AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS overall_conv_rate
FROM terms CROSS JOIN total
GROUP BY channel, conv_all, n_all
ORDER BY channel
"""


def q_timedecay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution — the third rule-based model
    completing the trio (linear → position → time-decay, with Markov and
    Shapley as the data-driven members): each purchase's value splits
    across its prior-24h touches proportionally to exp(−Δt/6h), so the
    touch nearest the conversion earns the most credit (the standard
    recency-weighted house model).

    Exactness: Δt is exact integer MICROSECONDS (unix_micros / epoch_us);
    the one exp per pair runs on the identical double Δt/6h in both
    engines and snaps to DECIMAL(20,10), so the per-conversion weight sum
    (a window over the pairs) is exact decimal; credit divides by that
    exact sum once and snaps to DECIMAL(18,6) BEFORE the channel rollup —
    the linear_attribution discipline with data-dependent weights.

    Scale: same join shape as linear_attribution (user-keyed conv×touch
    pairs bounded by the 24 h window), one pair-window, one channel
    rollup.
    """
    e = load_table(spark, sf_dir, "events")
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("conv_ts"),
        "value",
    )
    touch = e.filter(F.col("event_type").isin("view", "click", "signup")).select(
        F.col("user_id").alias("tu"),
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("channel"),
    )
    pairs = conv.join(
        touch,
        (F.col("cu") == F.col("tu"))
        & (F.col("touch_ts") < F.col("conv_ts"))
        & (F.col("touch_ts") >= F.col("conv_ts") - F.expr("INTERVAL 24 HOURS")),
    )
    dt_us = F.unix_micros("conv_ts") - F.unix_micros("touch_ts")
    w = F.round(
        F.exp(-(dt_us.cast("double") / 21600000000.0)).cast("decimal(28,12)"),
        10,
    ).cast("decimal(20,10)")
    per_conv = Window.partitionBy("conv_id")
    weighted = pairs.select(
        "conv_id",
        "channel",
        "value",
        w.alias("w"),
    ).withColumn("w_sum", F.sum("w").over(per_conv))
    credit = F.round(
        (
            F.col("value").cast("double")
            * F.col("w").cast("double")
            / F.col("w_sum").cast("double")
        ).cast("decimal(28,8)"),
        6,
    ).cast("decimal(18,6)")
    return (
        weighted.select("channel", credit.alias("credit"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("credit").cast("double").alias("credited_value"),
        )
        .orderBy("channel")
    )


TIMEDECAY_ATTRIBUTION_SQL = """
WITH conv AS (
    SELECT event_id AS conv_id, user_id AS cu, ts AS conv_ts, value
    FROM events WHERE event_type = 'purchase'
),
touch AS (
    SELECT user_id AS tu, ts AS touch_ts, event_type AS channel
    FROM events WHERE event_type IN ('view', 'click', 'signup')
),
pairs AS (
    SELECT conv_id, value, channel,
           CAST(ROUND(CAST(
               EXP(-(CAST(epoch_us(conv_ts) - epoch_us(touch_ts) AS DOUBLE)
                     / 21600000000.0))
               AS DECIMAL(28,12)), 10) AS DECIMAL(20,10)) AS w
    FROM conv JOIN touch
      ON cu = tu
     AND touch_ts < conv_ts
     AND touch_ts >= conv_ts - INTERVAL 24 HOURS
),
weighted AS (
    SELECT channel, value, w,
           SUM(w) OVER (PARTITION BY conv_id) AS w_sum
    FROM pairs
)
SELECT channel,
       COUNT(*) AS n_touches,
       CAST(SUM(CAST(ROUND(CAST(
           CAST(value AS DOUBLE) * CAST(w AS DOUBLE) / CAST(w_sum AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DECIMAL(18,6))) AS DOUBLE) AS credited_value
FROM weighted
GROUP BY channel
ORDER BY channel
"""


def q_mv_join_delta_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — the bilinear delta rule
    Δ(L ⋈ O) = ΔL⋈O₀ ∪ L₀⋈ΔO ∪ ΔL⋈ΔO applied to the per-priority revenue
    aggregate over lineitem ⋈ orders: the stored MV term (L₀⋈O₀, here
    recomputed since nothing persists between driver runs) absorbs three
    DELTA-sized joins instead of a full-history rejoin. The single-table
    additive case is q_mv_incremental_refresh; this is the IVM identity a
    join view actually needs, and the oracle is the FULL recompute — the
    four-term merge must be semantically invisible.

    Deltas are INDEPENDENT axes so all four quadrants carry rows and the
    identity is exercised, not vacuously zero: orders split on the date
    cutoff (new orders arrive), lineitems on line number ≥ 4 (late-
    arriving lines land on existing orders — the real CDC shape where a
    child-table delta references parents on BOTH sides of the parent
    delta). Exact decimal revenue partials make the merge bit-identical
    to the recompute.

    Scale: at 100 TB the L₀⋈O₀ term IS the stored MV (zero cost); the
    three delta joins each broadcast-or-shuffle only delta-sized inputs.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    cutoff = F.lit(_MV_CUTOFF).cast("date")
    o_old = o.filter(F.to_date("o_orderdate") < cutoff)
    o_new = o.filter(F.to_date("o_orderdate") >= cutoff)
    li_old = li.filter(F.col("l_linenumber") < 4)
    li_new = li.filter(F.col("l_linenumber") >= 4)  # late-arriving lines

    def agg(lines: DataFrame, orders: DataFrame) -> DataFrame:
        return (
            lines.join(orders, lines["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(money("l_extendedprice")).alias("s"),
            )
        )

    quadrants = [
        agg(li_old, o_old),  # the stored MV term L₀ ⋈ O₀
        agg(li_new, o_old),  # ΔL ⋈ O₀ — late lines on existing orders
        agg(li_old, o_new),  # L₀ ⋈ ΔO — old-class lines of new orders
        agg(li_new, o_new),  # ΔL ⋈ ΔO — late lines of new orders
    ]
    merged = quadrants[0]
    for qd in quadrants[1:]:
        merged = merged.unionByName(qd)
    return (
        merged.groupBy("o_orderpriority")
        .agg(
            F.sum("cnt").cast("long").alias("n_lines"),
            F.sum("s").cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


MV_JOIN_DELTA_REFRESH_SQL = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""
