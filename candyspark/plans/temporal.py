"""Temporal-join queries (as-of, banded range) over the events table, each
with an exact DuckDB mirror. The mirrors reproduce the Spark formulation's
tie-breaks verbatim (same (ts, side, seq) total order; same inclusive range
predicate), so the hash compare is exact, not approximate."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from candyspark.operators.temporal import (
    asof_join,
    asof_join_cogrouped,
    range_join_banded,
)
from candyspark.functions.numeric import snap_round
from candyspark.sources.readers import load_table


def q_asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-shaped as-of join: each purchase attributed to the user's
    most recent click at-or-before it (null when the user never clicked)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    out = asof_join(
        purchases,
        clicks,
        by=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_vals=["event_id"],
        seq_col="event_id",
        prefix="click_",
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "user_id",
        F.col("click_event_id").alias("click_id"),
        F.col("click_ts").alias("click_ts"),
    )


ASOF_CLICK_ATTRIBUTION_SQL = """
WITH u AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, 0 AS side, event_id,
           event_id AS r_id, CAST(ts AS TIMESTAMP) AS r_ts
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT user_id, CAST(ts AS TIMESTAMP), 1, event_id, NULL, NULL
    FROM events WHERE event_type = 'purchase'
),
w AS (
    SELECT user_id, ts, side, event_id,
           last_value(r_id IGNORE NULLS) OVER win AS click_id,
           last_value(r_ts IGNORE NULLS) OVER win AS click_ts
    FROM u
    WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id AS purchase_id, ts AS purchase_ts, user_id, click_id, click_ts
FROM w WHERE side = 1
"""


def q_range_join_error_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases landing inside [error_ts, error_ts + 1 h] of the same user —
    the point-in-interval shape, banded so Catalyst plans an equi-join."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "user_id",
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("error_end"),
        "user_id",
    )
    return range_join_banded(
        purchases,
        errors,
        by=["user_id"],
        left_point="purchase_ts",
        right_start="error_start",
        right_end="error_end",
        band_seconds=3600,
    ).select("purchase_id", "purchase_ts", "user_id", "error_id", "error_start")


RANGE_JOIN_ERROR_WINDOW_SQL = """
SELECT p.event_id AS purchase_id,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts,
       p.user_id AS user_id,
       e.event_id AS error_id,
       CAST(e.ts AS TIMESTAMP) AS error_start
FROM events p JOIN events e
  ON p.user_id = e.user_id
 AND p.event_type = 'purchase' AND e.event_type = 'error'
 AND CAST(p.ts AS TIMESTAMP) >= CAST(e.ts AS TIMESTAMP)
 AND CAST(p.ts AS TIMESTAMP) <= CAST(e.ts AS TIMESTAMP) + INTERVAL '1 hour'
"""


def q_asof_cogroup_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The click-attribution as-of join executed through the OTHER physical
    strategy — ``cogroup().applyInPandas`` with per-user ``merge_asof``
    (operators/temporal.asof_join_cogrouped) — against the SAME DuckDB
    oracle as the window form: two execution paths, one contract, both
    hash-checked."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    out = asof_join_cogrouped(
        purchases,
        clicks,
        by=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_vals=["event_id"],
        seq_col="event_id",
        prefix="click_",
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "user_id",
        F.col("click_event_id").alias("click_id"),
        F.col("click_ts").alias("click_ts"),
    )


ASOF_COGROUP_ATTRIBUTION_SQL = ASOF_CLICK_ATTRIBUTION_SQL


def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 0.5, adjusted form)
    of each user's last ≤32 event values — the "sequential" smoothing
    recurrence y_t = α·x_t + (1-α)·y_{t-1} expressed RELATIONALLY, fully
    JVM-side (no UDF, no per-row Python): over a bounded recency window the
    adjusted EWMA is the closed form Σ x_i·2^i / Σ 2^i (i = 0 oldest … 31
    newest), i.e. one row_number + one hash aggregate. Exactness discipline:
    value snaps to DECIMAL(18,6), weights are exact BIGINT powers of two, so
    both sums are exact decimals (order-independent — a Spark partial-agg
    tree and single-threaded DuckDB agree bit-for-bit); only the final ratio
    touches floats. At 100 TB this is one shuffle on user_id with map-side
    partial row_number impossible — but the window and the aggregate share
    the same user_id partitioning, so Catalyst plans ONE exchange. The
    32-event cap also bounds the weight magnitude (2^31·max_value ≪ the
    decimal-38 envelope) — the unbounded recurrence is the documented
    streaming form (applyInPandasWithState carries y_t across batches)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    recent = (
        ev.select("user_id", "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 32)
        .withColumn("weight", F.expr("CAST(power(2, 32 - rn) AS BIGINT)"))
    )
    return (
        recent.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)") * F.col("weight")).alias("s1"),
            F.sum("weight").alias("s2"),
        )
        .select(
            "user_id",
            "n_events",
            F.round(
                F.col("s1").cast("double") / F.col("s2").cast("double"), 4
            ).alias("ewma_value"),
        )
        .orderBy("user_id")
    )


EWMA_USER_VALUE_SQL = """
WITH r AS (
    SELECT user_id, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
), t AS (
    SELECT user_id,
           CAST(value AS DECIMAL(18,6)) * CAST(power(2, 32 - rn) AS BIGINT) AS term,
           CAST(power(2, 32 - rn) AS BIGINT) AS weight
    FROM r WHERE rn <= 32
)
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(term) AS DOUBLE) / CAST(SUM(weight) AS DOUBLE), 4) AS ewma_value
FROM t
GROUP BY user_id
ORDER BY user_id
"""


def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per (user, day): each event's
    value "holds" until the next event of the same day, so the mean is
    weighted by holding duration — the correct average for sampled-on-
    change signals (prices, gauges), where the arithmetic mean over-weights
    bursts. The day's last event has no holding interval and drops out.

    Durations are exact integer milliseconds; each value×duration product
    is snapped to decimal BEFORE the sum, so the per-group totals are
    partial-order-independent (the 1000-executor determinism discipline).
    One (user, day)-keyed exchange shared by the lead() window and the
    aggregate.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    held = (
        e.select("user_id", F.to_date("ts").alias("d"), "ts", "event_id", "value")
        .withColumn("dur_ms", F.lead(ms).over(w) - ms)
        .filter(F.col("dur_ms").isNotNull())
    )
    wsum = F.sum((F.col("value") * F.col("dur_ms")).cast("decimal(28,6)"))
    dsum = F.sum("dur_ms")
    return (
        held.groupBy("user_id", "d")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            dsum.cast("long").alias("held_ms"),
            F.round(
                (wsum.cast("double") / dsum.cast("double")).cast("decimal(28,8)"), 6
            )
            .cast("double")
            .alias("twap"),
        )
        .orderBy("user_id", "d")
    )


TIME_WEIGHTED_VALUE_SQL = """
WITH held AS (
    SELECT user_id, CAST(ts AS DATE) AS d, value,
           lead(epoch_ms(ts)) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                    ORDER BY ts, event_id)
               - epoch_ms(ts) AS dur_ms
    FROM events
)
SELECT user_id, d, COUNT(*) AS n_intervals,
       CAST(SUM(dur_ms) AS BIGINT) AS held_ms,
       CAST(ROUND(CAST(CAST(SUM(CAST(value * dur_ms AS DECIMAL(28,6)))
                            AS DOUBLE)
                       / CAST(SUM(dur_ms) AS DOUBLE)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS twap
FROM held WHERE dur_ms IS NOT NULL
GROUP BY user_id, d
ORDER BY user_id, d
"""


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily order revenue (STL-lite):
    trend = centered 7-day moving average, seasonal = day-of-week mean of
    the detrended series, residual = remainder — the decomposition behind
    anomaly baselines and de-seasonalized forecasting (the relational
    counterpart of forecast.py's fitted seasonal component).

    Determinism: the trend divides an EXACT decimal 7-day frame sum (full
    frames only — edge days stay NULL rather than biased); the detrended
    values are snapped to DECIMAL(18,6) BEFORE the day-of-week aggregate,
    so the seasonal means are exact-decimal ratios — never sums of raw
    doubles, which are partial-order-dependent. One snap per output edge.

    Scale: raw orders collapse to one row per day first; every window/agg
    after that runs over the ≤days-sized aggregate (calendar-bounded by
    construction, the new_vs_returning precedent) and the dow means
    broadcast back.
    """
    o = load_table(spark, sf_dir, "orders")
    d = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
    daily = (
        o.select(d.alias("d"), F.col("o_totalprice").cast("decimal(12,2)").alias("p"))
        .groupBy("d")
        .agg(F.sum("p").cast("decimal(18,2)").alias("y"))
    )
    wd = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.withColumn(
        "trend",
        F.when(
            F.count(F.lit(1)).over(wd) == 7,
            snap_round(F.sum("y").over(wd).cast("double") / 7.0, 6),
        ),
    ).withColumn(
        "detrended",
        F.round(
            (F.col("y").cast("double") - F.col("trend")).cast("decimal(28,8)"), 6
        ).cast("decimal(18,6)"),
    )
    dow_means = (
        trended.filter(F.col("trend").isNotNull())
        .groupBy(((F.col("d") + 4) % 7).alias("dow"))
        .agg(
            (F.sum("detrended") / F.count(F.lit(1))).alias("seasonal_raw")
        )
        .select("dow", snap_round(F.col("seasonal_raw").cast("double"), 6).alias("seasonal"))
    )
    return (
        trended.join(
            F.broadcast(dow_means), ((F.col("d") + 4) % 7) == F.col("dow"), "left"
        )
        .select(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("d").cast("int")).alias(
                "day"
            ),
            F.col("y").cast("double").alias("revenue"),
            "trend",
            "seasonal",
            snap_round(
                F.col("y").cast("double") - F.col("trend") - F.col("seasonal"), 6
            ).alias("residual"),
        )
        .orderBy("day")
    )


SEASONAL_DECOMPOSE_SQL = """
WITH daily AS (
    SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS y
    FROM orders GROUP BY 1
),
trended AS (
    SELECT d, y,
           CASE WHEN COUNT(*) OVER w7 = 7
                THEN CAST(ROUND(CAST(CAST(SUM(y) OVER w7 AS DOUBLE) / 7.0
                                     AS DECIMAL(28,8)), 6) AS DOUBLE)
           END AS trend
    FROM daily
    WINDOW w7 AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
detr AS (
    SELECT *,
           CAST(ROUND(CAST(CAST(y AS DOUBLE) - trend AS DECIMAL(28,8)), 6)
                AS DECIMAL(18,6)) AS detrended
    FROM trended
),
dow_means AS (
    SELECT (d + 4) % 7 AS dow,
           CAST(ROUND(CAST(CAST(SUM(detrended) AS DOUBLE) / COUNT(*)
                           AS DECIMAL(28,8)), 6) AS DOUBLE) AS seasonal
    FROM detr WHERE trend IS NOT NULL
    GROUP BY 1
)
SELECT DATE '1970-01-01' + CAST(d AS INTEGER) AS day,
       CAST(y AS DOUBLE) AS revenue,
       trend,
       seasonal,
       CAST(ROUND(CAST(CAST(y AS DOUBLE) - trend - seasonal AS DECIMAL(28,8)), 6)
            AS DOUBLE) AS residual
FROM detr LEFT JOIN dow_means ON (d + 4) % 7 = dow
ORDER BY day
"""


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over daily event volume: the day where
    the cumulative deviation from the global mean peaks — the classic
    level-shift detector (Page's CUSUM, evaluated at the argmax).

    Exactness: the deviation is kept in the SCALED integer form
    n·yᵢ − Σy (multiplying through by n avoids dividing per row), so the
    running CUSUM is an exact integer/decimal at every step; a single
    divide-by-n happens for the reported magnitude. The argmax tie-breaks
    by earliest day — a total order, identical in both engines.

    Scale: events collapse to per-day counts first; the two windows
    (running sum, global total) run over the calendar-bounded aggregate;
    TakeOrdered picks the peak.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    whole = Window.partitionBy()
    run = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    scored = (
        daily.withColumn("n", F.count(F.lit(1)).over(whole))
        .withColumn("total", F.sum("y").over(whole))
        .withColumn(
            "cusum_scaled",
            F.sum(F.col("y") * F.col("n") - F.col("total")).over(run),
        )
    )
    return (
        scored.select(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("d").cast("int")).alias(
                "changepoint_day"
            ),
            "n",
            snap_round(
                F.abs(F.col("cusum_scaled")).cast("double") / F.col("n").cast("double"),
                6,
            ).alias("cusum_peak"),
        )
        .orderBy(F.desc("cusum_peak"), "changepoint_day")
        .limit(1)
    )


CUSUM_CHANGEPOINT_SQL = """
WITH daily AS (
    SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           COUNT(*) AS y
    FROM events GROUP BY 1
),
with_tot AS (
    SELECT d, y,
           COUNT(*) OVER () AS n,
           SUM(y) OVER () AS total
    FROM daily
),
scored AS (
    SELECT d, n,
           SUM(y * n - total) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
               AS cusum_scaled
    FROM with_tot
)
SELECT DATE '1970-01-01' + CAST(d AS INTEGER) AS changepoint_day,
       n,
       CAST(ROUND(CAST(ABS(cusum_scaled) / CAST(n AS DOUBLE) AS DECIMAL(28,8)), 6)
            AS DOUBLE) AS cusum_peak
FROM scored
ORDER BY cusum_peak DESC, changepoint_day
LIMIT 1
"""


def q_leadlag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag discovery: at which day offset does the view series best
    predict the purchase series? Pearson correlation between daily view
    counts at t−lag and purchase counts at t, for lags 0..7 — the
    cross-correlation sweep behind "does activity lead revenue" questions
    and feature-lag selection for forecasting.

    Events collapse to one row per day FIRST (counts per type in one
    conditional pass); the lag sweep explodes that calendar-bounded
    aggregate ≤8×, self-joins on the shifted day (tiny ⨝ tiny), and the
    correlation comes from exact integer power sums with the closed-form
    double applied once per lag and snapped (the stats_moments
    discipline — never float partials). Only complete overlap days enter
    each lag's sums, so every lag is a valid Pearson over its own window.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d"),
            "event_type",
        )
        .groupBy("d")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("views"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "purchases"
            ),
        )
    )
    lags = daily.select(
        "d", "purchases", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("lag")
    )
    shifted = daily.select("d", F.col("views").alias("x"))
    pairs = lags.join(
        shifted.withColumnRenamed("d", "ds"),
        F.col("ds") == F.col("d") - F.col("lag"),
    ).select("lag", F.col("x"), F.col("purchases").alias("y"))
    agg = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy, syy = F.col("sy").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return (
        agg.select(
            F.col("lag").cast("int").alias("lag_days"),
            "n",
            snap_round(corr, 6).alias("corr_views_purchases"),
        )
        .orderBy("lag_days")
    )


LEADLAG_CORRELATION_SQL = """
WITH daily AS (
    SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases
    FROM events GROUP BY 1
),
lags AS (
    SELECT d, purchases, unnest(generate_series(0, 7)) AS lag FROM daily
),
pairs AS (
    SELECT l.lag, s.views AS x, l.purchases AS y
    FROM lags l JOIN daily s ON s.d = l.d - l.lag
),
sums AS (
    SELECT lag, COUNT(*) AS n,
           SUM(x) AS sx, SUM(x * x) AS sxx,
           SUM(y) AS sy, SUM(y * y) AS syy,
           SUM(x * y) AS sxy
    FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INTEGER) AS lag_days,
       n,
       CAST(ROUND(CAST(
         (n * sxy - CAST(sx AS DOUBLE) * sy)
         / (SQRT(n * sxx - CAST(sx AS DOUBLE) * sx) * SQRT(n * syy - CAST(sy AS DOUBLE) * sy))
         AS DECIMAL(28,8)), 6) AS DOUBLE) AS corr_views_purchases
FROM sums
ORDER BY lag_days
"""


def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping per-user activity intervals (each event opens a
    30-minute busy window) and report per-user coverage: merged-interval
    count, total covered time, and the longest merged span. The classic
    interval-union op (uptime/SLA coverage, session stitching with
    explicit ends) — distinct from gap-based sessionization, which works
    on point events; no reference counterpart.

    Formulation: island detection over a pinned (start, event_id) total
    order — a row starts a new island iff its start exceeds the running
    max of all PRECEDING ends (rows-between window, never range); a
    cumulative sum of those flags is the island id; min(start)/max(end)
    per island are the merged bounds. Exact integer microseconds end to
    end — both engines aggregate int64, so the hash compare is exact.

    Scale: everything partitions by user_id; the two window passes and
    the island aggregate share that one exchange. No self-join — the
    sweep is O(n log n) per user via the sort the window already pays.
    """
    from candyspark.operators.temporal import merge_intervals

    win_us = 30 * 60 * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + win_us).alias("e"),
        "event_id",
    )
    merged = merge_intervals(ev)
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_merged"),
            F.sum(F.col("me") - F.col("ms")).alias("covered_us"),
            F.max(F.col("me") - F.col("ms")).alias("longest_us"),
        )
        .orderBy("user_id")
    )


INTERVAL_MERGE_SQL = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS s,
           epoch_us(ts) + 1800000000 AS e, event_id
    FROM events
),
flagged AS (
    SELECT user_id, s, e,
           CASE WHEN MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                 OR s > MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           THEN 1 ELSE 0 END AS new_island,
           event_id
    FROM ev
),
islands AS (
    SELECT user_id, s, e,
           SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM flagged
),
merged AS (
    SELECT user_id, island, MIN(s) AS ms, MAX(e) AS me
    FROM islands GROUP BY user_id, island
)
SELECT user_id, COUNT(*) AS n_merged,
       CAST(SUM(me - ms) AS BIGINT) AS covered_us, MAX(me - ms) AS longest_us
FROM merged GROUP BY user_id
ORDER BY user_id
"""


def q_cep_no_error_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP pattern with NEGATION: view → purchase (same user, view is the
    most recent one at-or-before the purchase) with NO error event between
    them — the "A then B without C" shape regex funnels can't express
    scalably (event_path_match's per-user path strings concatenate a
    user's whole history; this form never materializes paths). Per user:
    total purchases, view-attributed purchases, and clean conversions
    (no intervening error).

    Composition: the backward as-of join (operators/temporal.asof_join,
    the same kernel as asof_click_attribution) pins the (view, purchase)
    pair; the negation is a LEFT ANTI join against errors on the OPEN
    interval (view_ts, purchase_ts) — equi-keyed on user_id, so the
    interval predicate evaluates only within each user's co-partitioned
    rows, never a cross join. Exact µs integer comparisons end to end.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "ts", "user_id"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.unix_micros("ts").alias("e_us")
    )
    paired = asof_join(
        purchases,
        views,
        by=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_vals=["event_id"],
        seq_col="event_id",
        prefix="view_",
    ).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("p_us"),
        F.col("view_event_id").alias("view_id"),
        F.unix_micros("view_ts").alias("v_us"),
    ).localCheckpoint()  # |purchases| rows; feeds the anti-join AND totals
    attributed = paired.filter(F.col("view_id").isNotNull())
    clean = attributed.join(
        errors,
        (F.col("user_id") == F.col("e_user"))
        & (F.col("e_us") > F.col("v_us"))
        & (F.col("e_us") < F.col("p_us")),
        "left_anti",
    )
    totals = paired.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("purchases"),
        F.sum(F.col("view_id").isNotNull().cast("int")).alias("view_attributed"),
    )
    cleans = clean.groupBy("user_id").agg(F.count(F.lit(1)).alias("clean_conversions"))
    return (
        totals.join(cleans, "user_id", "left")
        .select(
            "user_id",
            "purchases",
            "view_attributed",
            F.coalesce(F.col("clean_conversions"), F.lit(0)).alias(
                "clean_conversions"
            ),
        )
        .orderBy("user_id")
    )


CEP_NO_ERROR_BETWEEN_SQL = """
WITH p AS (
    SELECT event_id, ts, user_id, epoch_us(ts) AS p_us
    FROM events WHERE event_type = 'purchase'
),
v AS (
    SELECT event_id, ts, user_id, epoch_us(ts) AS v_us
    FROM events WHERE event_type = 'view'
),
x AS (
    SELECT user_id AS e_user, epoch_us(ts) AS e_us
    FROM events WHERE event_type = 'error'
),
paired AS (
    SELECT p.user_id, p.event_id AS purchase_id, p.p_us,
           (SELECT v.event_id FROM v
            WHERE v.user_id = p.user_id AND v.ts <= p.ts
            ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS view_id,
           (SELECT v.v_us FROM v
            WHERE v.user_id = p.user_id AND v.ts <= p.ts
            ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS v_us
    FROM p
),
clean AS (
    SELECT * FROM paired a
    WHERE view_id IS NOT NULL AND NOT EXISTS (
        SELECT 1 FROM x
        WHERE x.e_user = a.user_id AND x.e_us > a.v_us AND x.e_us < a.p_us
    )
)
SELECT user_id,
       (SELECT COUNT(*) FROM paired q WHERE q.user_id = t.user_id) AS purchases,
       (SELECT COUNT(*) FROM paired q
        WHERE q.user_id = t.user_id AND q.view_id IS NOT NULL) AS view_attributed,
       (SELECT COUNT(*) FROM clean c WHERE c.user_id = t.user_id)
           AS clean_conversions
FROM (SELECT DISTINCT user_id FROM paired) t
ORDER BY user_id
"""
