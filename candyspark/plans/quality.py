"""Data-quality constraint validation + deterministic statistics.

A training-data pipeline promotes datasets only behind constraint gates —
null rates, key uniqueness, referential integrity, value domains. The
reference has nothing of the kind (its CI diffs golden files end-to-end,
SURVEY.md §5.1); this module provides the in-engine form: each check is a
relational aggregate, the report is one long-format frame, and the whole
gate runs as ONE job.

Scale posture: all per-ROW checks on a table fold into ONE
conditional-aggregation pass (N row checks ≠ N scans); key-uniqueness and
referential checks are structurally keyed (groupBy / anti-join) and each
add one narrow-column pass of their own — the scans read only the checked
columns, so at 100 TB the gate costs a few column-pruned sweeps, not
full-table reads per check. The union of check rows is a union of 1-row
frames — free.

The statistics family (second half) computes variance/stddev/correlation
from EXACT decimal power sums (Σx, Σx², Σxy in DECIMAL — order-independent
on both engines) and only then applies the closed-form double formula —
both engines run the identical IEEE expression on identical inputs, so the
oracle hash matches bit-for-bit. Spark's built-in ``stddev``/``corr``
aggregate in floating point and are partial-order-dependent at scale;
moments-from-decimal is the deterministic alternative this engine
standardizes on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from candyspark.functions.numeric import snap_round
from candyspark.operators.text import char_hash32, md5_prefix_int
from candyspark.plans.candy import line_fit, line_fit_sql, line_sums, line_sums_sql
from candyspark.plans.stats2 import (
    MIDRANK2_SQL,
    doubled_midrank,
    returned_vs_kept,
    split_sql,
    split_totals,
)
from candyspark.sources.readers import load_table


def _checks_row(df: DataFrame, checks: dict[str, F.Column]) -> DataFrame:
    """One conditional-agg pass producing long-format (check, violations)."""
    wide = df.agg(
        *[F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name) for name, cond in checks.items()]
    )
    stack = ", ".join(f"'{n}', {n}" for n in checks)
    return wide.selectExpr(f"stack({len(checks)}, {stack}) AS (check_name, violations)")


def q_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint gate over orders + lineitem + customer: null keys,
    duplicate primary keys, referential orphans, domain violations —
    long-format report, one scan per table plus one anti-join."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")

    order_checks = _checks_row(
        o,
        {
            "orders_null_custkey": F.col("o_custkey").isNull(),
            "orders_nonpositive_price": F.col("o_totalprice") <= 0,
            "orders_bad_status": ~F.col("o_orderstatus").isin("F", "O", "P"),
        },
    )
    line_checks = _checks_row(
        li,
        {
            "lineitem_nonpositive_qty": F.col("l_quantity") <= 0,
            "lineitem_discount_domain": ~F.col("l_discount").between(0.0, 1.0),
            "lineitem_tax_domain": F.col("l_tax") < 0,
        },
    )
    dup_orders = (
        o.groupBy("o_orderkey")
        .count()
        .filter(F.col("count") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("violations"))
        .select(F.lit("orders_dup_orderkey").alias("check_name"), "violations")
    )
    orphans = (
        o.join(F.broadcast(c.select("c_custkey")), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("violations"))
        .select(F.lit("orders_orphan_custkey").alias("check_name"), "violations")
    )
    return (
        order_checks.unionByName(line_checks)
        .unionByName(dup_orders)
        .unionByName(orphans)
        .orderBy("check_name")
    )


QUALITY_REPORT_SQL = """
SELECT check_name, violations FROM (
  SELECT 'orders_null_custkey' AS check_name,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
  FROM orders
  UNION ALL
  SELECT 'orders_nonpositive_price',
         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'orders_bad_status',
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'lineitem_nonpositive_qty',
         CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
  UNION ALL
  SELECT 'lineitem_discount_domain',
         CAST(SUM(CASE WHEN l_discount NOT BETWEEN 0.0 AND 1.0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_tax_domain',
         CAST(SUM(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
  UNION ALL
  SELECT 'orders_dup_orderkey', CAST(COUNT(*) AS BIGINT)
  FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
  UNION ALL
  SELECT 'orders_orphan_custkey', CAST(COUNT(*) AS BIGINT)
  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
)
ORDER BY check_name
"""


def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mean / sample-stddev / correlation per return flag,
    computed from exact DECIMAL power sums (Σq, Σq², Σp, Σp², Σqp) with
    the closed-form double formula applied once at the end, snapped at 6
    dp (the engines' wide-decimal→double conversions can differ in the
    last ulp, so the raw formula output isn't hashable). The built-in
    float aggregates (stddev, corr) are partial-order-dependent at scale;
    moments-from-decimal is order-independent by construction.
    """
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(12,2)")
    p = F.col("l_extendedprice").cast("decimal(12,2)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("sq"),
        F.sum(q * q).alias("sqq"),
        F.sum(p).alias("sp"),
        F.sum(p * p).alias("spp"),
        F.sum(q * p).alias("sqp"),
    )
    n = F.col("n").cast("double")
    sq = F.col("sq").cast("double")
    sqq = F.col("sqq").cast("double")
    sp = F.col("sp").cast("double")
    spp = F.col("spp").cast("double")
    sqp = F.col("sqp").cast("double")
    return agg.select(
        "l_returnflag",
        F.col("n").alias("num_lines"),
        snap_round(sq / n, 6).alias("mean_qty"),
        snap_round(F.sqrt((sqq - sq * sq / n) / (n - F.lit(1.0))), 6).alias("stddev_qty"),
        snap_round(
            (n * sqp - sq * sp)
            / (F.sqrt(n * sqq - sq * sq) * F.sqrt(n * spp - sp * sp)),
            6,
        ).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


STATS_MOMENTS_SQL = """
WITH sums AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
         SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS sqq,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sp,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS spp,
         SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS sqp
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag,
       n AS num_lines,
       CAST(ROUND(CAST(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(28,8)), 6)
            AS DOUBLE) AS mean_qty,
       CAST(ROUND(CAST(
         SQRT((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
              / (CAST(n AS DOUBLE) - 1.0)) AS DECIMAL(28,8)), 6) AS DOUBLE) AS stddev_qty,
       CAST(ROUND(CAST(
         (CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
         / (SQRT(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
            * SQRT(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)))
         AS DECIMAL(28,8)), 6) AS DOUBLE) AS corr_qty_price
FROM sums
ORDER BY l_returnflag
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the arbitrary-set form beyond ROLLUP/CUBE
    (plans/relational.q_grouping_rollup, plans/analytics.q_cube_qty): revenue
    by (returnflag, linestatus), by (returnflag), and grand total, but NOT
    by (linestatus) — the set list CUBE can't express without waste.
    Expressed through spark.sql, the engine's SQL front door. One expand +
    one aggregate; no re-scan per set.
    """
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS return_flag,
               COALESCE(l_linestatus, 'ALL') AS line_status,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                              * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
                 AS revenue,
               COUNT(*) AS num_lines
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY return_flag, line_status
        """
    )


GROUPING_SETS_SQL = """
SELECT COALESCE(l_returnflag, 'ALL') AS return_flag,
       COALESCE(l_linestatus, 'ALL') AS line_status,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS num_lines
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY return_flag, line_status
"""


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — data-drift detection between the first
    and second half of the event history (the monitoring gate a training
    pipeline runs before trusting a new data drop).

    The split point is derived FROM the data (midpoint of the min/max epoch
    day), with Laplace smoothing (+1 per category) so a category absent
    from one half never produces ln(0). Everything up to the final ln is
    exact integer arithmetic; the ln runs once per category on identical
    doubles in both engines and is snapped at 6 dp (the snap_round
    discipline).

    Scale: raw events collapse to a per-(event_type, day) aggregate FIRST
    (one keyed shuffle, map-side combine absorbs the volume); the split
    bounds, category count, and half totals are all windows over that
    tiny aggregate — one scan, no re-scan for the bounds, no driver round
    trip.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    whole = Window.partitionBy()
    mid = F.floor(
        (F.min("d").over(whole) + F.max("d").over(whole)) / F.lit(2)
    )
    halves = (
        daily.withColumn("mid", mid)
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("d") <= F.col("mid"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("cnt_a"),
            F.sum(F.when(F.col("d") > F.col("mid"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("cnt_b"),
        )
    )
    k = F.count(F.lit(1)).over(whole).cast("double")
    pa = (F.col("cnt_a") + 1).cast("double") / (
        F.sum("cnt_a").over(whole).cast("double") + k
    )
    pb = (F.col("cnt_b") + 1).cast("double") / (
        F.sum("cnt_b").over(whole).cast("double") + k
    )
    return (
        halves.select(
            "event_type",
            "cnt_a",
            "cnt_b",
            snap_round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
        )
        .orderBy("event_type")
    )


DRIFT_PSI_SQL = """
WITH daily AS (
    SELECT event_type,
           date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type, d
),
halves AS (
    SELECT event_type,
           CAST(SUM(CASE WHEN d <= mid THEN n ELSE 0 END) AS BIGINT) AS cnt_a,
           CAST(SUM(CASE WHEN d > mid THEN n ELSE 0 END) AS BIGINT) AS cnt_b
    FROM (
        SELECT *,
               CAST(FLOOR((MIN(d) OVER () + MAX(d) OVER ()) / 2.0) AS BIGINT) AS mid
        FROM daily
    )
    GROUP BY event_type
)
SELECT event_type, cnt_a, cnt_b,
       CAST(ROUND(CAST(
         (CAST(cnt_a + 1 AS DOUBLE) / (SUM(cnt_a) OVER () + COUNT(*) OVER ())
          - CAST(cnt_b + 1 AS DOUBLE) / (SUM(cnt_b) OVER () + COUNT(*) OVER ()))
         * LN((CAST(cnt_a + 1 AS DOUBLE) / (SUM(cnt_a) OVER () + COUNT(*) OVER ()))
              / (CAST(cnt_b + 1 AS DOUBLE) / (SUM(cnt_b) OVER () + COUNT(*) OVER ())))
         AS DECIMAL(28,8)), 6) AS DOUBLE) AS psi_term
FROM halves
ORDER BY event_type
"""


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs Benford's
    law — the classic fabricated-data / corrupted-feed detector.

    Digit extraction is exact: totals become integer cents, the leading
    digit is the first character of the integer's decimal string (both
    engines print integers identically) — no log10-of-double near a
    power-of-10 boundary, where floor(log10(x)) is one ulp from flipping.
    Expected frequency log10(1 + 1/d) is evaluated on exact small
    constants and snapped.

    Scale: one scan of one column → 9-row aggregate; the share window
    runs over those 9 rows.
    """
    o = load_table(spark, sf_dir, "orders")
    digits = (
        o.filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    whole = Window.partitionBy()
    observed = F.col("n_orders").cast("double") / F.sum("n_orders").over(whole)
    expected = F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
    return (
        digits.select(
            "digit",
            "n_orders",
            snap_round(observed, 6).alias("observed_freq"),
            snap_round(expected, 6).alias("benford_freq"),
            snap_round(observed - expected, 6).alias("excess"),
        )
        .orderBy("digit")
    )


BENFORD_DIGITS_SQL = """
WITH digits AS (
    SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1)
                AS INTEGER) AS digit,
           COUNT(*) AS n_orders
    FROM orders
    WHERE o_totalprice > 0
    GROUP BY 1
)
SELECT digit, n_orders,
       CAST(ROUND(CAST(CAST(n_orders AS DOUBLE) / SUM(n_orders) OVER ()
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS observed_freq,
       CAST(ROUND(CAST(LOG10(1.0 + 1.0 / digit) AS DECIMAL(28,8)), 6) AS DOUBLE)
         AS benford_freq,
       CAST(ROUND(CAST(CAST(n_orders AS DOUBLE) / SUM(n_orders) OVER ()
                       - LOG10(1.0 + 1.0 / digit)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS excess
FROM digits
ORDER BY digit
"""


def q_distribution_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift metrics between returned ('R') and kept line
    items' price distributions: grid-estimated Wasserstein-1 (mean
    absolute quantile gap) and Kolmogorov-Smirnov-style max gap — the
    train/serve-skew and cohort-shift detectors that PSI (drift_psi)
    complements on categorical axes.

    The 1-D W1 distance equals the integral of |Q_A − Q_B| over quantile
    levels; on a fixed 101-point grid that's the mean absolute gap
    between the two quantile vectors — the standard sketch-friendly
    estimator. Both engines interpolate identically; one snap per output.

    Both grids come from the DISTRIBUTED order-statistic extractor
    (operators/quantiles.exact_quantiles_grouped, grouped on the
    returned/kept flag) — no holistic percentile: Spark's exact
    ``percentile`` merges EVERY value into one task, which was this
    suite's slowest query (9.4 s at sf0.1) and a structural scale-killer
    at 100 TB. The extractor's passes are narrow (bucket counts, then
    only the ≤2·|probs| needed buckets rank), so no task ever buffers
    more than one bucket. The per-p gap fold is a 101-row aggregate in
    exact DECIMAL (order-independent), same rounding ladder as before.
    """
    from candyspark.operators.quantiles import exact_quantiles_grouped

    li = load_table(spark, sf_dir, "lineitem")
    # NULL flags are excluded from BOTH grids, matching the oracle's
    # CASE WHEN (a NULL flag satisfies neither side there) and the counts
    # aggregate below (whose when()/otherwise(0) also skips NULL)
    flagged = li.filter(F.col("l_returnflag").isNotNull()).select(
        F.when(F.col("l_returnflag") == "R", F.lit("R"))
        .otherwise(F.lit("K"))
        .alias("side"),
        "l_extendedprice",
    )
    grid = exact_quantiles_grouped(
        spark, flagged, "side", "l_extendedprice", [i / 100.0 for i in range(101)]
    )
    paired = grid.groupBy("p").agg(
        F.max(F.when(F.col("side") == "R", F.col("value"))).alias("qa"),
        F.max(F.when(F.col("side") == "K", F.col("value"))).alias("qb"),
    )
    gap = F.abs(F.col("qa") - F.col("qb"))
    dists = paired.agg(
        (
            F.sum(F.round(gap.cast("decimal(28,9)"), 9)).cast("double")
            / F.lit(101.0)
        ).alias("w1"),
        F.max(gap).alias("ks"),
    )
    counts = li.agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("n_returned"),
        F.sum(F.when(F.col("l_returnflag") != "R", 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )
    return counts.crossJoin(dists).select(
        "n_returned",
        "n_kept",
        snap_round(F.col("w1"), 4).alias("wasserstein_grid"),
        snap_round(F.col("ks"), 4).alias("max_quantile_gap"),
    )


DISTRIBUTION_DISTANCE_SQL = """
WITH g AS (
    SELECT quantile_cont(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END,
               list_transform(range(0, 101), i -> i / 100.0)) AS qa,
           quantile_cont(CASE WHEN l_returnflag != 'R' THEN l_extendedprice END,
               list_transform(range(0, 101), i -> i / 100.0)) AS qb,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_returned,
           CAST(SUM(CASE WHEN l_returnflag != 'R' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM lineitem
)
SELECT n_returned, n_kept,
       CAST(ROUND(CAST(
         CAST(list_sum(list_transform(range(1, 102),
              i -> CAST(ROUND(CAST(ABS(qa[i] - qb[i]) AS DECIMAL(28,9)), 9)
                        AS DECIMAL(28,9)))) AS DOUBLE) / 101.0
         AS DECIMAL(28,8)), 4) AS DOUBLE) AS wasserstein_grid,
       CAST(ROUND(CAST(
         list_max(list_transform(range(1, 102), i -> ABS(qa[i] - qb[i])))
         AS DECIMAL(28,8)), 4) AS DOUBLE) AS max_quantile_gap
FROM g
"""


def q_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between the A/B arms' conversion rates — the
    significance statistic q_ab_conversion's Wilson intervals stop short
    of: z = (p̂_a − p̂_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)) under the pooled
    null. Arms are the same deterministic content-hash split as
    ab_conversion (user_id md5 parity); "conversion" = the user's purchase
    count exceeds the GLOBAL median purchase count (a data-derived
    threshold — an absolute flag degenerates to all-1s at some scale
    factor, and a degenerate split zeroes the pooled variance).

    All counts exact from one user-grain aggregate + a 1-row
    PERCENTILE_DISC broadcast; the z formula runs once on identical
    doubles and snaps. |z| > 1.96 is the two-sided 5% flag — the CDF
    itself needs no special function.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases")
    )
    med = per_user.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_purchases)").alias(
            "med"
        )
    )
    users = per_user.crossJoin(F.broadcast(med)).select(
        "user_id",
        (F.col("n_purchases") > F.col("med")).cast("int").alias("converted"),
    )
    arm = char_hash32(F.col("user_id").cast("string")) % 2
    wide = users.withColumn("arm", arm).agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("xa"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("xb"),
    )
    na, xa = F.col("na").cast("double"), F.col("xa").cast("double")
    nb, xb = F.col("nb").cast("double"), F.col("xb").cast("double")
    pooled = (xa + xb) / (na + nb)
    z = (xa / na - xb / nb) / F.sqrt(
        pooled * (1.0 - pooled) * (1.0 / na + 1.0 / nb)
    )
    return wide.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("xa").cast("long").alias("conv_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("xb").cast("long").alias("conv_b"),
        snap_round(z, 6).alias("z_stat"),
        (F.abs(z) > 1.96).cast("int").alias("significant_5pct"),
    )


AB_ZTEST_SQL = """
WITH per_user AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchases
    FROM events GROUP BY user_id
),
med AS (
    SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY n_purchases) AS med
    FROM per_user
),
users AS (
    SELECT user_id,
           CASE WHEN n_purchases > med THEN 1 ELSE 0 END AS converted
    FROM per_user CROSS JOIN med
),
arms AS (
    SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
             AS arm,
           converted
    FROM users
),
agg AS (
    SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
           CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
    FROM arms
)
SELECT n_a, conv_a, n_b, conv_b,
       CAST(ROUND(CAST(
         (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
         / SQRT(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                * (1.0 / n_a + 1.0 / n_b))
         AS DECIMAL(28,8)), 6) AS DOUBLE) AS z_stat,
       CAST(CASE WHEN ABS(
         (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
         / SQRT(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                * (1.0 / n_a + 1.0 / n_b))) > 1.96
         THEN 1 ELSE 0 END AS INTEGER) AS significant_5pct
FROM agg
"""


def q_distribution_distance_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_distribution_distance's documented sketch swap-in as CODE
    (round-3 verdict item 5): both 101-point quantile grids come from
    ``percentile_approx`` (mergeable GK sketch, accuracy 1000) and the
    W1/KS estimates are recomputed from the sketch grids — the shape a
    1000-executor shift detector actually runs.

    Sketch values are engine-specific, so the driver check is an
    ACCURACY CONTRACT: the query emits the EXACT W1/KS (hash-anchored —
    identical to q_distribution_distance's values) plus booleans
    asserting the sketch-grid estimates sit within an error bound
    derived from the exact grid itself: each sketch quantile at p is
    guaranteed (10× slack) inside [Q(p−0.01), Q(p+0.01)] = the NEIGHBOR
    grid values, so |W1_approx − W1| ≤ mean_p(width_R + width_K) and
    |KS_approx − KS| ≤ max_p(width_R + width_K), where width(p) =
    Q(p+0.01) − Q(p−0.01) clamped at the edges. The oracle computes the
    exact stats and expects TRUE."""
    from candyspark.operators.quantiles import exact_quantiles_grouped

    li = load_table(spark, sf_dir, "lineitem")
    flagged = li.filter(F.col("l_returnflag").isNotNull()).select(
        F.when(F.col("l_returnflag") == "R", F.lit("R"))
        .otherwise(F.lit("K"))
        .alias("side"),
        "l_extendedprice",
    )
    probs = [i / 100.0 for i in range(101)]
    grid = exact_quantiles_grouped(
        spark, flagged, "side", "l_extendedprice", probs
    )
    paired = grid.groupBy("p").agg(
        F.max(F.when(F.col("side") == "R", F.col("value"))).alias("qa"),
        F.max(F.when(F.col("side") == "K", F.col("value"))).alias("qb"),
    )
    w = Window.orderBy("p")  # 101 bounded rows — single-task window is fine
    banded = paired.select(
        "p",
        "qa",
        "qb",
        (
            F.coalesce(F.lead("qa").over(w), F.col("qa"))
            - F.coalesce(F.lag("qa").over(w), F.col("qa"))
        ).alias("bw_a"),
        (
            F.coalesce(F.lead("qb").over(w), F.col("qb"))
            - F.coalesce(F.lag("qb").over(w), F.col("qb"))
        ).alias("bw_b"),
    )
    gap = F.abs(F.col("qa") - F.col("qb"))
    exact = banded.agg(
        (
            F.sum(F.round(gap.cast("decimal(28,9)"), 9)).cast("double")
            / F.lit(101.0)
        ).alias("w1"),
        F.max(gap).alias("ks"),
        (F.sum(F.col("bw_a") + F.col("bw_b")) / F.lit(101.0)).alias("w1_bound"),
        F.max(F.col("bw_a") + F.col("bw_b")).alias("ks_bound"),
    )
    approx = (
        flagged.groupBy("side")
        .agg(F.percentile_approx("l_extendedprice", probs, 1000).alias("g"))
        .groupBy()
        .agg(
            F.max(F.when(F.col("side") == "R", F.col("g"))).alias("ga"),
            F.max(F.when(F.col("side") == "K", F.col("g"))).alias("gb"),
        )
        .select(
            F.aggregate(
                F.zip_with("ga", "gb", lambda a, b: F.abs(a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("sum_gap_a"),
            F.aggregate(
                F.zip_with("ga", "gb", lambda a, b: F.abs(a - b)),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            ).alias("ks_a"),
        )
        .select(
            (F.col("sum_gap_a") / F.lit(101.0)).alias("w1_a"), "ks_a"
        )
    )
    counts = li.agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("n_returned"),
        F.sum(F.when(F.col("l_returnflag") != "R", 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )
    return (
        counts.crossJoin(exact)
        .crossJoin(approx)
        .select(
            "n_returned",
            "n_kept",
            snap_round(F.col("w1"), 4).alias("wasserstein_grid"),
            snap_round(F.col("ks"), 4).alias("max_quantile_gap"),
            (
                F.abs(F.col("w1_a") - F.col("w1"))
                <= F.col("w1_bound") + F.lit(1e-9)
            ).alias("w1_in_bound"),
            (
                F.abs(F.col("ks_a") - F.col("ks"))
                <= F.col("ks_bound") + F.lit(1e-9)
            ).alias("ks_in_bound"),
        )
    )


DISTRIBUTION_DISTANCE_APPROX_SQL = (
    DISTRIBUTION_DISTANCE_SQL.rstrip().removesuffix("FROM g")
    + ",\n       TRUE AS w1_in_bound,\n       TRUE AS ks_in_bound\nFROM g\n"
)


def q_mask_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-governance masking: the customer dimension published for
    analytics with its direct identifier REDACTED (Spark's ``mask()`` —
    upper→X, lower→x, digit→n, punctuation preserved) and replaced by a
    deterministic md5 surrogate key, plus account balances generalized to
    $1000 bands — the classic pseudonymization triple (redact, tokenize,
    generalize). The surrogate is a pure function of the identifier, so
    joins still line up across separately-masked extracts (the same
    property every md5-derived key in this engine leans on).

    All scan-stage expressions, zero shuffles; DuckDB mirrors mask() with
    three character-class regexp_replace passes.
    """
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            F.md5(F.col("c_name")).alias("customer_token"),
            F.mask(F.col("c_name")).alias("name_masked"),
            "c_nationkey",
            "c_mktsegment",
            (F.floor(F.col("c_acctbal") / 1000) * 1000)
            .cast("double")
            .alias("acctbal_band"),
        )
        .orderBy("customer_token")
    )


MASK_CUSTOMERS_SQL = """
SELECT md5(c_name) AS customer_token,
       regexp_replace(regexp_replace(regexp_replace(c_name,
           '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
         AS name_masked,
       c_nationkey,
       c_mktsegment,
       CAST(FLOOR(c_acctbal / 1000) * 1000 AS DOUBLE) AS acctbal_band
FROM customer
ORDER BY customer_token
"""


def q_price_quantiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated deciles of lineitem price through the
    DISTRIBUTED order-statistic extractor (operators/quantiles.
    exact_quantiles) — value-monotone bucketing, tiny cumulative offsets,
    per-needed-bucket ranking — against the same quantile_cont oracle the
    holistic aggregate answers to. No task ever buffers more than one
    bucket; the holistic form ships EVERY value to the final merge.
    Locally the holistic's single scan wins (scan setup dominates);
    this is the form that survives 100 TB, proven value-identical here.
    """
    from candyspark.operators.quantiles import exact_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    probs = [i / 10.0 for i in range(11)]
    return exact_quantiles(
        spark, li, "l_extendedprice", probs, out_value="price"
    ).select("p", snap_round(F.col("price"), 4).alias("price"))


PRICE_QUANTILES_DISTRIBUTED_SQL = """
WITH g AS (
    SELECT quantile_cont(l_extendedprice,
        [0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,1.0]) AS qs
    FROM lineitem
)
SELECT (i - 1) / 10.0 AS p,
       CAST(ROUND(CAST(qs[i] AS DECIMAL(28,8)), 4) AS DOUBLE) AS price
FROM g CROSS JOIN (SELECT unnest(range(1, 12)) AS i) idx
ORDER BY p
"""


def q_quartiles_by_flag_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact quartiles through the GROUPED distributed
    order-statistic extractor (operators/quantiles.exact_quantiles_grouped)
    — the form that replaces robust_stats' per-group holistic percentile
    at 100 TB: the holistic finalizer buffers each group's entire column
    in one task, the extractor never holds more than one (group, bucket).
    Value-identical to quantile_cont per group, proven here.
    """
    from candyspark.operators.quantiles import exact_quantiles_grouped

    li = load_table(spark, sf_dir, "lineitem")
    return exact_quantiles_grouped(
        spark,
        li,
        "l_returnflag",
        "l_extendedprice",
        [0.25, 0.5, 0.75],
        out_value="price",
    ).select("l_returnflag", "p", snap_round(F.col("price"), 4).alias("price"))


QUARTILES_BY_FLAG_DISTRIBUTED_SQL = """
WITH g AS (
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) AS qs
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       0.25 * i AS p,
       CAST(ROUND(CAST(qs[i] AS DECIMAL(28,8)), 4) AS DOUBLE) AS price
FROM g CROSS JOIN (SELECT unnest([1, 2, 3]) AS i) idx
ORDER BY l_returnflag, p
"""


def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean event value differ across event types?
    F = (SSB/(k−1)) / (SSW/(N−k)) from exact per-group DECIMAL power sums
    (Σx, Σx², n per group; grand sums derive from the group sums — no
    second scan). Completes the hypothesis-test family: ab_ztest (two
    proportions), chi2_independence (categorical), auc_quality_langid
    (Mann–Whitney), distribution_distance (Wasserstein) — this is the
    k-group means test. Output: one row (k, n, ssb, ssw, f_stat).

    Exactness: SSB and SSW assemble from the exact decimal sums with the
    closed-form double formula applied once (the stats_moments
    discipline); order-independent, one snap each. Scale: one map-side
    combined aggregate to ≤k rows; everything after is arithmetic on k
    rows.
    """
    e = load_table(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(12,2)")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(x).alias("sx"), F.sum(x * x).alias("sxx")
    )
    # group-level: contribution to SSW = Σx² − (Σx)²/n ; to SSB via grand sums
    # each group's (Σx)²/n snaps to decimal BEFORE the cross-group sum so
    # the total is partial-order independent (the stats_moments discipline;
    # a raw double sum over groups could differ in the last ulp per engine)
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("sx").alias("gx"),
        F.sum("sxx").alias("gxx"),
        F.sum(
            (
                F.col("sx").cast("double")
                * F.col("sx").cast("double")
                / F.col("n").cast("double")
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("sum_sq_over_n"),
    )
    k = F.col("k").cast("double")
    nn = F.col("nn").cast("double")
    gx = F.col("gx").cast("double")
    gxx = F.col("gxx").cast("double")
    ssb = F.col("sum_sq_over_n") - gx * gx / nn
    ssw = gxx - F.col("sum_sq_over_n")
    return tot.select(
        F.col("k").cast("int").alias("k"),
        F.col("nn").alias("n"),
        snap_round(ssb, 4).alias("ssb"),
        snap_round(ssw, 4).alias("ssw"),
        snap_round((ssb / (k - 1)) / (ssw / (nn - k)), 6).alias("f_stat"),
    )


ANOVA_ONEWAY_SQL = """
WITH g AS (
    SELECT event_type, COUNT(*) AS n,
           SUM(CAST(value AS DECIMAL(12,2))) AS sx,
           SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS sxx
    FROM events GROUP BY event_type
),
tot AS (
    SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS nn,
           SUM(sx) AS gx, SUM(sxx) AS gxx,
           CAST(SUM(CAST(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                / CAST(n AS DOUBLE) AS DECIMAL(28,8))) AS DOUBLE)
               AS sum_sq_over_n
    FROM g
)
SELECT CAST(k AS INT) AS k, nn AS n,
       CAST(ROUND(CAST(sum_sq_over_n - CAST(gx AS DOUBLE) * CAST(gx AS DOUBLE)
            / CAST(nn AS DOUBLE) AS DECIMAL(28,8)), 4) AS DOUBLE) AS ssb,
       CAST(ROUND(CAST(CAST(gxx AS DOUBLE) - sum_sq_over_n
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS ssw,
       CAST(ROUND(CAST(
            ((sum_sq_over_n - CAST(gx AS DOUBLE) * CAST(gx AS DOUBLE) / CAST(nn AS DOUBLE)) / (k - 1))
            / ((CAST(gxx AS DOUBLE) - sum_sq_over_n) / (nn - k))
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS f_stat
FROM tot
"""


def q_spearman_orders_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a day's order COUNT and its
    revenue — the robust (monotonic, outlier-insensitive) companion to
    stats_moments' Pearson. Tie-aware: fractional average ranks
    (rank_min + (ties−1)/2), DOUBLED to exact integers (ties come in
    halves), so the Pearson-on-ranks power sums are exact int64 algebra
    with ONE snapped division at the end — engine-exact by construction.

    Scale: the corpus collapses to the calendar-bounded per-day aggregate
    before ranking; the two rank windows are global sorts over ≤days-in-
    range rows (trivial at any SF — same posture as histogram_equidepth's
    documented bound).
    """
    o = load_table(spark, sf_dir, "orders")
    days = o.groupBy("o_orderdate").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev"),
    )

    def ranks2(col: str) -> F.Column:
        # doubled average rank: 2*rank_min + (ties - 1)  — exact integer
        w_rank = Window.orderBy(col)
        w_ties = Window.partitionBy(col)
        return (2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_ties) - 1).cast(
            "long"
        )

    ranked = days.select(
        ranks2("cnt").alias("ra"), ranks2("rev").alias("rb")
    )
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum(F.col("ra") * F.col("ra")).alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
        F.sum(F.col("ra") * F.col("rb")).alias("sab"),
    )
    n = F.col("n").cast("double")
    sa = F.col("sa").cast("double")
    sb = F.col("sb").cast("double")
    saa = F.col("saa").cast("double")
    sbb = F.col("sbb").cast("double")
    sab = F.col("sab").cast("double")
    return sums.select(
        F.col("n").alias("n_days"),
        snap_round(
            (n * sab - sa * sb)
            / (F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb)),
            6,
        ).alias("spearman_rho"),
    )


SPEARMAN_ORDERS_REVENUE_SQL = """
WITH days AS (
    SELECT o_orderdate, COUNT(*) AS cnt,
           SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
    FROM orders GROUP BY o_orderdate
),
ranked AS (
    SELECT CAST(2 * RANK() OVER (ORDER BY cnt)
                + COUNT(*) OVER (PARTITION BY cnt) - 1 AS BIGINT) AS ra,
           CAST(2 * RANK() OVER (ORDER BY rev)
                + COUNT(*) OVER (PARTITION BY rev) - 1 AS BIGINT) AS rb
    FROM days
),
sums AS (
    SELECT COUNT(*) AS n,
           CAST(SUM(ra) AS BIGINT) AS sa, CAST(SUM(rb) AS BIGINT) AS sb,
           CAST(SUM(ra * ra) AS BIGINT) AS saa,
           CAST(SUM(rb * rb) AS BIGINT) AS sbb,
           CAST(SUM(ra * rb) AS BIGINT) AS sab
    FROM ranked
)
SELECT n AS n_days,
       CAST(ROUND(CAST(
            (n * sab - CAST(sa AS DOUBLE) * sb)
            / (SQRT(n * saa - CAST(sa AS DOUBLE) * sa)
               * SQRT(n * sbb - CAST(sb AS DOUBLE) * sb))
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS spearman_rho
FROM sums
"""


def q_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B experiment: adjust each
    user's outcome (Jan-16-onward event value) by their PRE-period covariate
    (first-half-of-January value), y_adj = y − θ(x − x̄) with θ = cov(x,y)/var(x) —
    the standard experimentation-platform trick that shrinks metric
    variance without biasing the treatment difference (the pre-period is
    causally untouched by assignment). Output: one row with θ, the
    variance-reduction ratio 1 − var(y_adj)/var(y), and raw vs adjusted
    arm means — everything the z-test family (ab_ztest) needs to run on
    the tighter metric.

    Exactness: per-user pre/post sums are exact decimals; ALL covariance
    and per-arm terms assemble from exact decimal power sums (Σx, Σy,
    Σxy, Σxx, Σyy per arm — decimal(18,2)² products stay inside the
    38-digit envelope at bench SFs; re-scale per-shard beyond) with the
    closed-form double algebra applied once and snapped. The adjusted-arm
    means need NO second pass: mean_a(y_adj) = ȳ_a − θ(x̄_a − x̄), and
    var(y_adj) = var(y) − cov²/var(x) at the optimal θ. Scale: one
    user-grain aggregate, one ≤2-row arm aggregate, pure arithmetic after.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
                F.col("value").cast("decimal(12,2)"),
            ).otherwise(F.lit(0).cast("decimal(12,2)"))
        ).alias("x"),
        F.sum(
            F.when(
                F.col("ts") >= F.lit("2024-01-16").cast("timestamp"),
                F.col("value").cast("decimal(12,2)"),
            ).otherwise(F.lit(0).cast("decimal(12,2)"))
        ).alias("y"),
    )
    arm = char_hash32(F.col("user_id").cast("string")) % 2
    xd = F.col("x").cast("decimal(18,2)")
    yd = F.col("y").cast("decimal(18,2)")
    arms = (
        per_user.withColumn("arm", arm)
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(xd).alias("sx"),
            F.sum(yd).alias("sy"),
            F.sum(xd * yd).alias("sxy"),
            F.sum(xd * xd).alias("sxx"),
            F.sum(yd * yd).alias("syy"),
        )
    )
    tot = arms.agg(
        F.sum("n").alias("n"),
        F.sum("sx").cast("double").alias("sx"),
        F.sum("sy").cast("double").alias("sy"),
        F.sum("sxy").cast("double").alias("sxy"),
        F.sum("sxx").cast("double").alias("sxx"),
        F.sum("syy").cast("double").alias("syy"),
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("na"),
        F.sum(F.when(F.col("arm") == 0, F.col("sx"))).cast("double").alias("sxa"),
        F.sum(F.when(F.col("arm") == 0, F.col("sy"))).cast("double").alias("sya"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("nb"),
        F.sum(F.when(F.col("arm") == 1, F.col("sx"))).cast("double").alias("sxb"),
        F.sum(F.when(F.col("arm") == 1, F.col("sy"))).cast("double").alias("syb"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n)
    varx = F.col("sxx") / n - (F.col("sx") / n) * (F.col("sx") / n)
    vary = F.col("syy") / n - (F.col("sy") / n) * (F.col("sy") / n)
    # degenerate guards (constant covariate / outcome, empty arm): NULL out
    # rather than divide by zero — Spark ANSI raises where DuckDB's double
    # division yields inf, so an unguarded degenerate input would diverge
    theta = F.when(varx > 0, cov / varx)
    xbar = F.col("sx") / n
    mean_a = F.try_divide(F.col("sya"), F.col("na").cast("double"))
    mean_b = F.try_divide(F.col("syb"), F.col("nb").cast("double"))
    adj_a = mean_a - theta * (
        F.try_divide(F.col("sxa"), F.col("na").cast("double")) - xbar
    )
    adj_b = mean_b - theta * (
        F.try_divide(F.col("sxb"), F.col("nb").cast("double")) - xbar
    )
    return tot.select(
        F.col("n").alias("n_users"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        snap_round(theta, 6).alias("theta"),
        snap_round(
            F.when(
                (varx > 0) & (vary > 0), 1.0 - (vary - cov * cov / varx) / vary
            ),
            6,
        ).alias("var_reduction"),
        snap_round(mean_a, 4).alias("mean_a"),
        snap_round(mean_b, 4).alias("mean_b"),
        snap_round(adj_a, 4).alias("adj_mean_a"),
        snap_round(adj_b, 4).alias("adj_mean_b"),
        snap_round(adj_a - adj_b, 4).alias("adj_diff"),
    )


AB_CUPED_SQL = """
WITH per_user AS (
    SELECT user_id,
           SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN CAST(value AS DECIMAL(12,2))
                    ELSE CAST(0 AS DECIMAL(12,2)) END) AS x,
           SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN CAST(value AS DECIMAL(12,2))
                    ELSE CAST(0 AS DECIMAL(12,2)) END) AS y
    FROM events GROUP BY user_id
),
armed AS (
    SELECT CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 2 AS INT) AS arm,
           CAST(x AS DECIMAL(18,2)) AS x, CAST(y AS DECIMAL(18,2)) AS y
    FROM per_user
),
arms AS (
    SELECT arm, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
    FROM armed GROUP BY arm
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n,
           CAST(SUM(sx) AS DOUBLE) AS sx, CAST(SUM(sy) AS DOUBLE) AS sy,
           CAST(SUM(sxy) AS DOUBLE) AS sxy, CAST(SUM(sxx) AS DOUBLE) AS sxx,
           CAST(SUM(syy) AS DOUBLE) AS syy,
           CAST(SUM(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS na,
           CAST(SUM(CASE WHEN arm = 0 THEN sx END) AS DOUBLE) AS sxa,
           CAST(SUM(CASE WHEN arm = 0 THEN sy END) AS DOUBLE) AS sya,
           CAST(SUM(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS nb,
           CAST(SUM(CASE WHEN arm = 1 THEN sx END) AS DOUBLE) AS sxb,
           CAST(SUM(CASE WHEN arm = 1 THEN sy END) AS DOUBLE) AS syb
    FROM arms
),
derived AS (
    SELECT *,
           sxy / n - (sx / n) * (sy / n) AS cov,
           sxx / n - (sx / n) * (sx / n) AS varx,
           syy / n - (sy / n) * (sy / n) AS vary,
           CASE WHEN sxx / n - (sx / n) * (sx / n) > 0
                THEN (sxy / n - (sx / n) * (sy / n))
                     / (sxx / n - (sx / n) * (sx / n)) END AS theta,
           CASE WHEN na > 0 THEN sya / na END AS mean_a,
           CASE WHEN nb > 0 THEN syb / nb END AS mean_b
    FROM tot
)
SELECT n AS n_users, na AS n_a, nb AS n_b,
       CAST(ROUND(CAST(theta AS DECIMAL(28,8)), 6) AS DOUBLE) AS theta,
       CAST(ROUND(CAST(CASE WHEN varx > 0 AND vary > 0
                 THEN 1.0 - (vary - cov * cov / varx) / vary END
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS var_reduction,
       CAST(ROUND(CAST(mean_a AS DECIMAL(28,8)), 4) AS DOUBLE) AS mean_a,
       CAST(ROUND(CAST(mean_b AS DECIMAL(28,8)), 4) AS DOUBLE) AS mean_b,
       CAST(ROUND(CAST(mean_a - theta * (sxa / na - sx / n)
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS adj_mean_a,
       CAST(ROUND(CAST(mean_b - theta * (sxb / nb - sx / n)
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS adj_mean_b,
       CAST(ROUND(CAST(
            (mean_a - theta * (sxa / na - sx / n))
          - (mean_b - theta * (sxb / nb - sx / n))
           AS DECIMAL(28,8)), 4) AS DOUBLE) AS adj_diff
FROM derived
"""


def q_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the per-decile gap between the A and B
    arms' user-outcome distributions — where in the distribution the
    treatment moves mass, which the mean difference (ab_cuped) averages
    away. Deciles come from the DISTRIBUTED grouped order-statistic
    extractor (operators/quantiles.exact_quantiles_grouped, arm as the
    group key — the per-group holistic percentile would buffer each arm's
    entire user column in one task); the QTE is the per-prob difference
    of the two arms' pivoted quantiles.

    Output: (p, q_a, q_b, qte) for the 11 deciles, each value snapped
    once. Same deterministic md5 arm split as the rest of the A/B family.
    """
    from candyspark.operators.quantiles import exact_quantiles_grouped

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(12,2)")).alias("outcome")
    )
    arm = (char_hash32(F.col("user_id").cast("string")) % 2).cast("int")
    users = per_user.select(arm.alias("arm"), F.col("outcome").cast("double"))
    probs = [i / 10.0 for i in range(11)]
    q = exact_quantiles_grouped(spark, users, "arm", "outcome", probs)
    pivoted = q.groupBy("p").agg(
        F.max(F.when(F.col("arm") == 0, F.col("value"))).alias("qa"),
        F.max(F.when(F.col("arm") == 1, F.col("value"))).alias("qb"),
    )
    return pivoted.select(
        "p",
        snap_round(F.col("qa"), 4).alias("q_a"),
        snap_round(F.col("qb"), 4).alias("q_b"),
        snap_round(F.col("qa") - F.col("qb"), 4).alias("qte"),
    ).orderBy("p")


QUANTILE_TREATMENT_EFFECT_SQL = """
WITH per_user AS (
    SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS outcome
    FROM events GROUP BY user_id
),
armed AS (
    SELECT CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 2 AS INT) AS arm, outcome
    FROM per_user
),
g AS (
    SELECT arm, quantile_cont(outcome,
        [0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,1.0]) AS qs
    FROM armed GROUP BY arm
),
expanded AS (
    SELECT arm, (i - 1) / 10.0 AS p, qs[i] AS value
    FROM g CROSS JOIN (SELECT unnest(range(1, 12)) AS i) idx
),
pivoted AS (
    SELECT p,
           MAX(CASE WHEN arm = 0 THEN value END) AS qa,
           MAX(CASE WHEN arm = 1 THEN value END) AS qb
    FROM expanded GROUP BY p
)
SELECT p,
       CAST(ROUND(CAST(qa AS DECIMAL(28,8)), 4) AS DOUBLE) AS q_a,
       CAST(ROUND(CAST(qb AS DECIMAL(28,8)), 4) AS DOUBLE) AS q_b,
       CAST(ROUND(CAST(qa - qb AS DECIMAL(28,8)), 4) AS DOUBLE) AS qte
FROM pivoted ORDER BY p
"""


def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private counts via the Laplace mechanism, with
    DETERMINISTIC noise: per-nation customer counts + Laplace(1/eps)
    noise (eps=1, sensitivity 1 for a count). The uniform draw is
    md5-derived from the nation key + a fixed release tag — the
    inverse-CDF transform u -> -(1/eps)*sign(u)*ln(1-2|u|) then yields
    the exact Laplace sample. Seeded noise is how production DP releases
    make publication idempotent (re-running the release must NOT spend
    extra privacy budget by drawing fresh noise); it is also what makes
    the mechanism fully oracle-checkable. The governance companion to
    mask_customers: masking protects identifiers, DP protects aggregates.

    NOTE: this is the verification surface for the MECHANISM — a real
    release would emit only the noisy column (and never alongside the
    true count), and the release tag would be budget-accounted.

    Scale: one ≤|nations| aggregate; noise is a scan-stage expression on
    the 25-row result. The single ln per group is snapped (the BM25
    discipline) so both engines' libm agree after rounding.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    counts = (
        cust.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    )
    h = md5_prefix_int(F.concat(F.lit("release-2026-08:"), F.col("n_name")), 15)
    # u in [-0.5, 0.5); greatest(h,1) guards the measure-zero h=0 edge
    # where 1-2|u| would hit ln(0)
    u = F.greatest(h, F.lit(1)).cast("double") / F.lit(float(2**60)) - F.lit(0.5)
    sgn = F.when(u >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    noise = -sgn * F.log(1.0 - 2.0 * F.abs(u))  # scale b = 1/eps = 1
    return counts.select(
        F.col("n_name").alias("nation"),
        F.col("true_count"),
        snap_round(noise, 4).alias("noise"),
        snap_round(F.col("true_count") + noise, 4).alias("noisy_count"),
    ).orderBy("nation")


DP_NOISY_COUNTS_SQL = """
WITH counts AS (
    SELECT n.n_name AS nation, COUNT(*) AS true_count
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
),
draw AS (
    SELECT nation, true_count,
           CAST(GREATEST(CAST(concat('0x', substr(md5(concat('release-2026-08:', nation)), 1, 15))
                AS BIGINT), 1) AS DOUBLE) / POW(2.0, 60.0) - 0.5 AS u
    FROM counts
),
noised AS (
    SELECT nation, true_count,
           -(CASE WHEN u >= 0 THEN 1.0 ELSE -1.0 END) * LN(1.0 - 2.0 * ABS(u)) AS noise
    FROM draw
)
SELECT nation, true_count,
       CAST(ROUND(CAST(noise AS DECIMAL(28,8)), 4) AS DOUBLE) AS noise,
       CAST(ROUND(CAST(true_count + noise AS DECIMAL(28,8)), 4) AS DOUBLE) AS noisy_count
FROM noised
ORDER BY nation
"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity release audit — the privacy check that
    runs BEFORE masking (mask_customers) or noising (dp_noisy_counts):
    group the table by its quasi-identifiers (nation, account-balance
    thousand-bucket), measure every equivalence class, and report whether
    the release satisfies k=5 anonymity and l=2 diversity of the sensitive
    attribute (market segment).

    Shape: two-level aggregate — per-class (size, distinct sensitive)
    is bounded by QI cardinality, then ONE summary row (classes, minimum
    class size, unsafe classes, rows re-identifiable at k<5, classes whose
    sensitive attribute is constant, suppression rate). At 100 TB this is
    one map-side-combined shuffle of QI-cardinality rows; nothing
    row-sized leaves the scan stage.

    Exactness: the bucket is FLOOR(balance/1000) on an exact DECIMAL(12,2)
    input — both engines divide the same correctly-rounded double (2-dp
    values hit an integer quotient only at exact thousands); all audit
    numbers are exact longs, the one rate snaps at 6 dp.
    """
    c = load_table(spark, sf_dir, "customer")
    bucket = F.floor(
        F.col("c_acctbal").cast("decimal(12,2)").cast("double") / 1000.0
    ).cast("long")
    classes = (
        c.select(
            F.col("c_nationkey").alias("nation"),
            bucket.alias("bal_bucket"),
            F.col("c_mktsegment").alias("sensitive"),
        )
        .groupBy("nation", "bal_bucket")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct("sensitive").alias("n_sensitive"),
        )
    )
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("class_size").alias("min_class_size"),
        F.sum(F.when(F.col("class_size") < 5, 1).otherwise(0)).alias(
            "n_unsafe_classes"
        ),
        F.sum(F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.sum(F.when(F.col("n_sensitive") < 2, 1).otherwise(0)).alias(
            "n_low_diversity_classes"
        ),
        F.sum("class_size").cast("long").alias("n_rows"),
    ).select(
        "n_classes",
        "min_class_size",
        "n_unsafe_classes",
        "n_rows_at_risk",
        "n_low_diversity_classes",
        snap_round(
            F.col("n_rows_at_risk").cast("double") / F.col("n_rows").cast("double"),
            6,
        ).alias("suppression_rate"),
        (F.col("n_unsafe_classes") == 0).alias("k5_anonymous"),
        (F.col("n_low_diversity_classes") == 0).alias("l2_diverse"),
    )


K_ANONYMITY_SQL = """
WITH classes AS (
    SELECT c_nationkey AS nation,
           CAST(FLOOR(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE)
                      / 1000.0) AS BIGINT) AS bal_bucket,
           COUNT(*) AS class_size,
           COUNT(DISTINCT c_mktsegment) AS n_sensitive
    FROM customer
    GROUP BY 1, 2
)
SELECT COUNT(*) AS n_classes,
       MIN(class_size) AS min_class_size,
       CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unsafe_classes,
       CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT)
           AS n_rows_at_risk,
       CAST(SUM(CASE WHEN n_sensitive < 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_low_diversity_classes,
       CAST(ROUND(CAST(
           CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                AS DOUBLE)
           / CAST(SUM(class_size) AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS suppression_rate,
       SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) = 0 AS k5_anonymous,
       SUM(CASE WHEN n_sensitive < 2 THEN 1 ELSE 0 END) = 0 AS l2_diverse
FROM classes
"""


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: are returned ('R') line
    items drawn from the same quantity distribution as kept ones? The
    nonparametric member of the hypothesis-test family (z-test → ANOVA →
    χ² → CUPED) — no normality assumption, which is exactly what heavy-
    tailed pipeline metrics violate.

    Rank math without a global sort: l_quantity has BOUNDED integral
    support (TPC-H: 1..50), so the corpus collapses to one ≤50-row
    per-value aggregate (plans/stats2.returned_vs_kept) and U comes from
    its exact doubled midranks (stats2.doubled_midrank). The
    tie-correction Σ(t³−t) runs in DECIMAL(38,0) (t³ overflows int64 past
    ~2M rows per value; decimal sums stay exact and order-free).

    The normal approximation (valid at any bench SF: min(n_a, n_b) ≫ 20)
    assembles in double with ONE association, identical in both engines,
    and z snaps at 6 dp. At 100 TB this is one shuffle of ≤50 rows past
    the scan stage — the distributed-sort rank computation a naive
    implementation would pay is gone by construction.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ranked = returned_vs_kept(li, F.col("l_quantity").cast("long")).select(
        "na_v",
        "nb_v",
        (F.col("na_v") + F.col("nb_v")).alias("n_v"),
        doubled_midrank().alias("r2"),
    )
    sums = split_totals(
        ranked,
        F.sum(F.col("na_v") * F.col("r2")).cast("long").alias("sum_r2a"),
        F.sum(
            F.col("n_v").cast("decimal(38,0)")
            * F.col("n_v").cast("decimal(38,0)")
            * F.col("n_v").cast("decimal(38,0)")
            - F.col("n_v").cast("decimal(38,0)")
        ).alias("t_sum"),
    )
    n = (F.col("n_a") + F.col("n_b")).cast("double")
    u2 = F.col("sum_r2a") - F.col("n_a") * (F.col("n_a") + 1)
    u = u2.cast("double") / 2.0
    mu = (F.col("n_a") * F.col("n_b")).cast("double") / 2.0
    var = (
        (F.col("n_a") * F.col("n_b")).cast("double")
        / 12.0
        * (
            (n + 1.0)
            - F.col("t_sum").cast("double")
            / (n * (n - 1.0))
        )
    )
    z = (u - mu) / F.sqrt(var)
    return sums.select(
        "n_a",
        "n_b",
        u.alias("u_stat"),
        snap_round(z, 6).alias("z"),
        (F.abs(snap_round(z, 6)) > 1.96).alias("significant"),
    )


MANN_WHITNEY_SQL = f"""
WITH {split_sql("CAST(l_quantity AS BIGINT)")},
ranked AS (
    SELECT na_v, nb_v, na_v + nb_v AS n_v, {MIDRANK2_SQL} AS r2
    FROM per_v
),
sums AS (
    SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
           CAST(SUM(nb_v) AS BIGINT) AS n_b,
           CAST(SUM(na_v * r2) AS BIGINT) AS sum_r2a,
           SUM(CAST(n_v AS DECIMAL(38,0)) * CAST(n_v AS DECIMAL(38,0))
               * CAST(n_v AS DECIMAL(38,0)) - CAST(n_v AS DECIMAL(38,0))) AS t_sum
    FROM ranked
)
SELECT n_a, n_b,
       CAST(sum_r2a - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_stat,
       CAST(ROUND(CAST(
           (CAST(sum_r2a - n_a * (n_a + 1) AS DOUBLE) / 2.0
            - CAST(n_a * n_b AS DOUBLE) / 2.0)
           / SQRT(CAST(n_a * n_b AS DOUBLE) / 12.0
                  * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
                     - CAST(t_sum AS DOUBLE)
                       / (CAST(n_a + n_b AS DOUBLE)
                          * (CAST(n_a + n_b AS DOUBLE) - 1.0))))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS z,
       ABS(CAST(ROUND(CAST(
           (CAST(sum_r2a - n_a * (n_a + 1) AS DOUBLE) / 2.0
            - CAST(n_a * n_b AS DOUBLE) / 2.0)
           / SQRT(CAST(n_a * n_b AS DOUBLE) / 12.0
                  * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
                     - CAST(t_sum AS DOUBLE)
                       / (CAST(n_a + n_b AS DOUBLE)
                          * (CAST(n_a + n_b AS DOUBLE) - 1.0))))
           AS DECIMAL(28,8)), 6) AS DOUBLE)) > 1.96 AS significant
FROM sums
"""


def q_jsd_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's language mix against the
    corpus-wide mix — the bounded (0..ln 2), symmetric drift score that
    completes the shift-detection family: PSI (drift_psi) for categorical
    monitoring, W1/KS (distribution_distance) for continuous columns, JSD
    for comparing CORPUS MIXTURES (the number a pretraining-data curator
    tracks per source per drop).

    Laplace smoothing (+1 per language cell) keeps every ln finite even
    when a source never emits a language; the (source × lang) grid is an
    explicit cross join of two tiny aggregates so absent cells are PRESENT
    with count 0 (left-join-then-coalesce — otherwise missing cells
    silently shrink the sum). Each cell's term
    0.5·p·ln(p/m) + 0.5·q·ln(q/m) runs on doubles built from exact integer
    ratios with ONE association, snaps to DECIMAL(20,8), and per-source
    totals are exact decimal sums (order-free); the final per-source JSD
    snaps once at 6 dp.

    Scale: the corpus collapses to a ≤|sources|·|langs| aggregate in one
    map-side-combined shuffle; marginals derive from that relation (never
    a rescan) and ride back on broadcasts.
    """
    d = load_table(spark, sf_dir, "documents")
    cells = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c_sl"))
        .localCheckpoint()
    )
    langs = cells.groupBy("lang").agg(F.sum("c_sl").cast("long").alias("c_l"))
    sources = cells.groupBy("source").agg(
        F.sum("c_sl").cast("long").alias("n_s")
    )
    totals = langs.agg(
        F.sum("c_l").cast("long").alias("n_tot"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    grid = (
        sources.crossJoin(F.broadcast(langs))
        .join(cells, ["source", "lang"], "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_s",
            (F.coalesce(F.col("c_sl"), F.lit(0)) + 1).cast("double").alias("cp"),
            (F.col("n_s") + F.col("k")).cast("double").alias("dp"),
            (F.col("c_l") + 1).cast("double").alias("cq"),
            (F.col("n_tot") + F.col("k")).cast("double").alias("dq"),
        )
    )
    p = F.col("cp") / F.col("dp")
    q = F.col("cq") / F.col("dq")
    m = (p + q) / 2.0
    term = 0.5 * (p * F.log(p / m)) + 0.5 * (q * F.log(q / m))
    return (
        grid.select(
            "source",
            "n_s",
            F.round(term.cast("decimal(28,10)"), 8)
            .cast("decimal(20,8)")
            .alias("t"),
        )
        .groupBy("source", "n_s")
        .agg(snap_round(F.sum("t").cast("double"), 6).alias("jsd"))
        .select("source", F.col("n_s").alias("n_docs"), "jsd")
        .orderBy(F.desc("jsd"), "source")
    )


JSD_SOURCE_DRIFT_SQL = """
WITH cells AS (
    SELECT source, lang, COUNT(*) AS c_sl FROM documents GROUP BY 1, 2
),
langs AS (SELECT lang, CAST(SUM(c_sl) AS BIGINT) AS c_l FROM cells GROUP BY 1),
sources AS (SELECT source, CAST(SUM(c_sl) AS BIGINT) AS n_s FROM cells GROUP BY 1),
totals AS (SELECT CAST(SUM(c_l) AS BIGINT) AS n_tot,
                  CAST(COUNT(*) AS BIGINT) AS k FROM langs),
grid AS (
    SELECT s.source, s.n_s,
           CAST(COALESCE(c.c_sl, 0) + 1 AS DOUBLE) AS cp,
           CAST(s.n_s + t.k AS DOUBLE) AS dp,
           CAST(l.c_l + 1 AS DOUBLE) AS cq,
           CAST(t.n_tot + t.k AS DOUBLE) AS dq
    FROM sources s
    CROSS JOIN langs l
    LEFT JOIN cells c ON c.source = s.source AND c.lang = l.lang
    CROSS JOIN totals t
),
terms AS (
    SELECT source, n_s,
           CAST(ROUND(CAST(
               0.5 * ((cp / dp) * LN((cp / dp) / (((cp / dp) + (cq / dq)) / 2.0)))
               + 0.5 * ((cq / dq) * LN((cq / dq) / (((cp / dp) + (cq / dq)) / 2.0)))
               AS DECIMAL(28,10)), 8) AS DECIMAL(20,8)) AS t
    FROM grid
)
SELECT source, n_s AS n_docs,
       CAST(ROUND(CAST(CAST(SUM(t) AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS jsd
FROM terms
GROUP BY source, n_s
ORDER BY jsd DESC, source
"""


def q_bh_fdr_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over a battery of per-brand tests —
    the multiple-testing correction every metrics platform needs the
    moment it runs 25 A/B comparisons at once (α=0.05 per test would
    false-positive ~1.25 brands every drop). Completes the experiment
    family: one test (ab_ztest) → variance reduction (ab_cuped) →
    a BATTERY of tests with a controlled false-discovery rate.

    Per-brand Welch z (mean returned-vs-kept quantity) assembles from
    exact int64 power sums (quantity is integral ≤ 50; Σq² per brand fits
    comfortably) with ONE double association; z snaps at 6 dp. The
    p-value is the CHERNOFF BOUND min(1, 2·e^{-z²/2}) — exp is portable
    across engines where the normal CDF (erf) is not; the bound is
    conservative (true p ≤ bound), so BH on it controls FDR a fortiori.
    Documented, not hidden: the column is named p_bound. p snaps to
    DECIMAL(20,8) BEFORE ranking so both engines sort identical keys
    (brand breaks ties totally).

    BH step-up: rank p ascending, flag p_i ≤ α·i/k, reject every rank up
    to the LARGEST flagged i (the step-up sweep is two windows over the
    ≤|brands|-row battery). At 100 TB: one map-side-combined shuffle to
    |brands| moment rows, then window algebra over that tiny relation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p_ = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    qv = F.col("l_quantity").cast("long")
    is_a = F.col("l_returnflag") == "R"
    sums = (
        li.join(F.broadcast(p_), li.l_partkey == p_.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("na"),
            F.sum(F.when(is_a, qv).otherwise(0)).cast("long").alias("sa"),
            F.sum(F.when(is_a, qv * qv).otherwise(0)).cast("long").alias("s2a"),
            F.sum(F.when(is_a, 0).otherwise(1)).cast("long").alias("nb"),
            F.sum(F.when(is_a, 0).otherwise(qv)).cast("long").alias("sb"),
            F.sum(F.when(is_a, 0).otherwise(qv * qv)).cast("long").alias("s2b"),
        )
    )
    na, sa, s2a = [F.col(c).cast("double") for c in ("na", "sa", "s2a")]
    nb, sb, s2b = [F.col(c).cast("double") for c in ("nb", "sb", "s2b")]
    va = (s2a - sa * sa / na) / (na - 1.0)
    vb = (s2b - sb * sb / nb) / (nb - 1.0)
    z = snap_round((sa / na - sb / nb) / F.sqrt(va / na + vb / nb), 6)
    scored = sums.select(
        F.col("p_brand").alias("brand"),
        F.col("na").alias("n_returned"),
        z.alias("z"),
        F.round(
            F.least(F.lit(1.0), 2.0 * F.exp(-(z * z) / 2.0)).cast(
                "decimal(28,10)"
            ),
            8,
        )
        .cast("decimal(20,8)")
        .alias("p_bound"),
    )
    w_rank = Window.orderBy("p_bound", "brand")
    whole = Window.partitionBy()
    ranked = scored.select(
        "*",
        F.row_number().over(w_rank).cast("long").alias("rank"),
        F.count(F.lit(1)).over(whole).cast("long").alias("k"),
    )
    flagged = ranked.withColumn(
        "flag",
        F.col("p_bound").cast("double")
        <= 0.05 * F.col("rank").cast("double") / F.col("k").cast("double"),
    )
    imax = F.max(F.when(F.col("flag"), F.col("rank"))).over(whole)
    return (
        flagged.select(
            "brand",
            "n_returned",
            "z",
            F.col("p_bound").cast("double").alias("p_bound"),
            "rank",
            (F.col("rank") <= F.coalesce(imax, F.lit(0))).alias("rejected"),
        )
        .orderBy("rank")
    )


BH_FDR_BRANDS_SQL = """
WITH sums AS (
    SELECT p_brand,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(SUM(CASE WHEN l_returnflag = 'R'
                         THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sa,
           CAST(SUM(CASE WHEN l_returnflag = 'R'
                         THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS s2a,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT) AS nb,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0
                         ELSE CAST(l_quantity AS BIGINT) END) AS BIGINT) AS sb,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0
                         ELSE CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                         END) AS BIGINT) AS s2b
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p_brand
),
zed AS (
    SELECT p_brand AS brand, na AS n_returned,
           CAST(ROUND(CAST(
               (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
               / SQRT(((CAST(s2a AS DOUBLE)
                        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                          / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0))
                      / CAST(na AS DOUBLE)
                      + ((CAST(s2b AS DOUBLE)
                          - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                            / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0))
                        / CAST(nb AS DOUBLE))
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS z
    FROM sums
),
scored AS (
    SELECT brand, n_returned, z,
           CAST(ROUND(CAST(LEAST(1.0, 2.0 * EXP(-(z * z) / 2.0))
                           AS DECIMAL(28,10)), 8) AS DECIMAL(20,8)) AS p_bound
    FROM zed
),
ranked AS (
    SELECT *,
           CAST(ROW_NUMBER() OVER (ORDER BY p_bound, brand) AS BIGINT) AS rank,
           CAST(COUNT(*) OVER () AS BIGINT) AS k
    FROM scored
),
flagged AS (
    SELECT *,
           CAST(p_bound AS DOUBLE)
             <= 0.05 * CAST(rank AS DOUBLE) / CAST(k AS DOUBLE) AS flag
    FROM ranked
)
SELECT brand, n_returned, z,
       CAST(p_bound AS DOUBLE) AS p_bound,
       rank,
       rank <= COALESCE(MAX(CASE WHEN flag THEN rank END) OVER (), 0) AS rejected
FROM flagged
ORDER BY rank
"""


def q_ips_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-score ATE — the observational-causal estimate
    that closes the experimentation family's gap: ab_ztest/ab_cuped assume
    RANDOMIZED arms; here treatment ('click' exposure) is self-selected,
    so the naive mean gap is confounded by activity. Stratify users by an
    activity covariate, estimate per-stratum propensity p̂ = treated/total,
    clip to [0.05, 0.95] (the standard positivity guard), and weight:
    ATE_IPS = Σ[T·y/p̂ − (1−T)·y/(1−p̂)] / N. The naive difference rides
    along so the output SHOWS the confounding correction.

    Exactness: outcomes are exact decimal sums; p̂ is a ratio of exact
    longs; each user's weighted term is ONE double division snapped to
    DECIMAL(20,6), so the population sums are exact and order-free; the
    two final divisions snap at 4 dp. Scale: user-grain aggregate (one
    keyed shuffle, map-side combined), stratum propensities are a
    ≤|strata|-row aggregate broadcast back, and the estimate is one more
    scalar aggregate — no row ever carries more than its own term.
    """
    e = load_table(spark, sf_dir, "events")
    users = (
        e.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "treated"
            ),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(12,2)"),
                ).otherwise(F.lit(0).cast("decimal(12,2)"))
            )
            .cast("decimal(18,2)")
            .alias("y"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            "treated",
            "y",
            F.least(F.col("n_events"), F.lit(8)).cast("int").alias("stratum"),
        )
        .localCheckpoint()
    )
    prop = users.groupBy("stratum").agg(
        F.sum("treated").cast("long").alias("n_t"),
        F.count(F.lit(1)).cast("long").alias("n_all"),
    )
    p_hat = F.greatest(
        F.lit(0.05),
        F.least(F.lit(0.95), F.col("n_t").cast("double") / F.col("n_all").cast("double")),
    )
    terms = users.join(F.broadcast(prop), "stratum").select(
        "treated",
        "y",
        F.round(
            F.when(
                F.col("treated") == 1, F.col("y").cast("double") / p_hat
            ).otherwise(F.col("y").cast("double") / (1.0 - p_hat)).cast(
                "decimal(28,8)"
            ),
            6,
        )
        .cast("decimal(20,6)")
        .alias("w_term"),
    )
    sums = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("treated").cast("long").alias("n_treated"),
        F.sum(F.when(F.col("treated") == 1, F.col("w_term"))).alias("s_t"),
        F.sum(F.when(F.col("treated") == 0, F.col("w_term"))).alias("s_c"),
        F.sum(F.when(F.col("treated") == 1, F.col("y"))).alias("y_t"),
        F.sum(F.when(F.col("treated") == 0, F.col("y"))).alias("y_c"),
    )
    n = F.col("n_users").cast("double")
    ate_ips = (F.col("s_t").cast("double") - F.col("s_c").cast("double")) / n
    naive = F.col("y_t").cast("double") / F.col("n_treated").cast("double") - F.col(
        "y_c"
    ).cast("double") / (F.col("n_users") - F.col("n_treated")).cast("double")
    return sums.select(
        "n_users",
        "n_treated",
        snap_round(ate_ips, 4).alias("ate_ips"),
        snap_round(naive, 4).alias("naive_diff"),
    )


IPS_ATE_SQL = """
WITH users AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS treated,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(12,2))
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS y,
           CAST(LEAST(COUNT(*), 8) AS INTEGER) AS stratum
    FROM events
    GROUP BY user_id
),
prop AS (
    SELECT stratum,
           CAST(SUM(treated) AS BIGINT) AS n_t,
           CAST(COUNT(*) AS BIGINT) AS n_all
    FROM users GROUP BY stratum
),
terms AS (
    SELECT treated, y,
           CAST(ROUND(CAST(
               CASE WHEN treated = 1
                    THEN CAST(y AS DOUBLE)
                         / GREATEST(0.05, LEAST(0.95,
                               CAST(n_t AS DOUBLE) / CAST(n_all AS DOUBLE)))
                    ELSE CAST(y AS DOUBLE)
                         / (1.0 - GREATEST(0.05, LEAST(0.95,
                               CAST(n_t AS DOUBLE) / CAST(n_all AS DOUBLE))))
               END AS DECIMAL(28,8)), 6) AS DECIMAL(20,6)) AS w_term
    FROM users JOIN prop USING (stratum)
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(treated) AS BIGINT) AS n_treated,
           SUM(CASE WHEN treated = 1 THEN w_term END) AS s_t,
           SUM(CASE WHEN treated = 0 THEN w_term END) AS s_c,
           SUM(CASE WHEN treated = 1 THEN y END) AS y_t,
           SUM(CASE WHEN treated = 0 THEN y END) AS y_c
    FROM terms
)
SELECT n_users, n_treated,
       CAST(ROUND(CAST(
           (CAST(s_t AS DOUBLE) - CAST(s_c AS DOUBLE))
           / CAST(n_users AS DOUBLE)
           AS DECIMAL(28,8)), 4) AS DOUBLE) AS ate_ips,
       CAST(ROUND(CAST(
           CAST(y_t AS DOUBLE) / CAST(n_treated AS DOUBLE)
           - CAST(y_c AS DOUBLE) / CAST(n_users - n_treated AS DOUBLE)
           AS DECIMAL(28,8)), 4) AS DOUBLE) AS naive_diff
FROM sums
"""


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between discount and quantity — the rank-correlation
    twin of q_spearman_orders_revenue, with the tie correction that
    matters when both axes are heavily discrete. A naive implementation
    compares all n(n−1)/2 observation pairs — quadratic in the DATA; here
    both variables have BOUNDED support (discount% 0..10, quantity 1..50),
    so the corpus collapses ONCE to a ≤550-cell contingency grid and every
    pair statistic is algebra over CELL pairs (≤550²/2, a constant
    whatever the row count — the mann_whitney/logistic_newton discipline).

    Concordant/discordant counts come from the strict-inequality cell
    pairs (x1<x2 canonical order so each unordered pair counts once);
    tie terms n₁/n₂ come from the x/y MARGINALS of the same grid. Every
    count is exact — products accumulate in DECIMAL(38,0) (n_i·n_j crosses
    int64 around 10⁹ rows per cell) — and τ-b is one double expression
    snapped at 6 dp.
    """
    li = load_table(spark, sf_dir, "lineitem")
    grid = (
        li.select(
            (F.col("l_discount").cast("decimal(4,2)") * 100)
            .cast("int")
            .alias("x"),
            F.col("l_quantity").cast("long").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    a, b = grid.alias("a"), grid.alias("b")
    prod = (F.col("a.n").cast("decimal(38,0)") * F.col("b.n").cast("decimal(38,0)"))
    cd = (
        a.join(F.broadcast(b), F.col("a.x") < F.col("b.x"))
        .agg(
            F.sum(F.when(F.col("a.y") < F.col("b.y"), prod)).alias("c_sum"),
            F.sum(F.when(F.col("a.y") > F.col("b.y"), prod)).alias("d_sum"),
        )
    )
    tx = grid.groupBy("x").agg(F.sum("n").cast("decimal(38,0)").alias("t"))
    ty = grid.groupBy("y").agg(F.sum("n").cast("decimal(38,0)").alias("t"))
    pair = lambda t: F.sum(t * (t - 1) / 2).cast("decimal(38,0)")  # noqa: E731
    n1 = tx.agg(
        pair(F.col("t")).alias("n1"), F.sum("t").cast("decimal(38,0)").alias("n_tot")
    )
    n2 = ty.agg(pair(F.col("t")).alias("n2"))
    joined = cd.crossJoin(F.broadcast(n1)).crossJoin(F.broadcast(n2))
    n0 = (F.col("n_tot") * (F.col("n_tot") - 1) / 2).cast("decimal(38,0)")
    tau = (
        (F.col("c_sum").cast("double") - F.col("d_sum").cast("double"))
        / F.sqrt(
            (n0 - F.col("n1")).cast("double") * (n0 - F.col("n2")).cast("double")
        )
    )
    return joined.select(
        F.col("n_tot").cast("long").alias("n_rows"),
        F.col("c_sum").cast("long").alias("concordant"),
        F.col("d_sum").cast("long").alias("discordant"),
        snap_round(tau, 6).alias("tau_b"),
    )


KENDALL_TAU_SQL = """
WITH grid AS (
    SELECT CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS INTEGER) AS x,
           CAST(l_quantity AS BIGINT) AS y,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1, 2
),
cd AS (
    SELECT SUM(CASE WHEN a.y < b.y
                    THEN CAST(a.n AS DECIMAL(38,0)) * CAST(b.n AS DECIMAL(38,0)) END) AS c_sum,
           SUM(CASE WHEN a.y > b.y
                    THEN CAST(a.n AS DECIMAL(38,0)) * CAST(b.n AS DECIMAL(38,0)) END) AS d_sum
    FROM grid a JOIN grid b ON a.x < b.x
),
n1s AS (
    SELECT CAST(SUM(t * (t - 1) / 2) AS DECIMAL(38,0)) AS n1,
           CAST(SUM(t) AS DECIMAL(38,0)) AS n_tot
    FROM (SELECT CAST(SUM(n) AS DECIMAL(38,0)) AS t FROM grid GROUP BY x)
),
n2s AS (
    SELECT CAST(SUM(t * (t - 1) / 2) AS DECIMAL(38,0)) AS n2
    FROM (SELECT CAST(SUM(n) AS DECIMAL(38,0)) AS t FROM grid GROUP BY y)
)
SELECT CAST(n_tot AS BIGINT) AS n_rows,
       CAST(c_sum AS BIGINT) AS concordant,
       CAST(d_sum AS BIGINT) AS discordant,
       CAST(ROUND(CAST(
           (CAST(c_sum AS DOUBLE) - CAST(d_sum AS DOUBLE))
           / SQRT(CAST(CAST(n_tot * (n_tot - 1) / 2 AS DECIMAL(38,0)) - n1 AS DOUBLE)
                  * CAST(CAST(n_tot * (n_tot - 1) / 2 AS DECIMAL(38,0)) - n2 AS DOUBLE))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS tau_b
FROM cd CROSS JOIN n1s CROSS JOIN n2s
"""


def q_aipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust (AIPW) treatment effect — the estimator production
    causal systems actually ship, completing q_ips_ate: augment the IPS
    weighting with per-stratum OUTCOME models m₁/m₀ (mean outcome among
    treated/control in the stratum), so the estimate stays consistent if
    EITHER the propensity model or the outcome model is right:
    ATE = (1/N) Σ [ m₁(s) − m₀(s) + T·(y − m₁(s))/p̂ − (1−T)·(y − m₀(s))/(1−p̂) ].

    Same relational skeleton as q_ips_ate (shared journey/stratum design —
    kept textually separate because the two estimators are the comparison
    a practitioner runs side by side): one user-grain aggregate, one
    ≤8-stratum model relation broadcast back (now carrying p̂, m₁, m₀ —
    all ratios of exact sums), per-user terms snapped to decimal so the
    population mean is order-free. The outcome-model means divide exact
    decimal sums by exact longs; strata with no treated (or no control)
    users coalesce that arm's model to 0 with the propensity clip keeping
    the correction bounded.
    """
    e = load_table(spark, sf_dir, "events")
    users = (
        e.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "treated"
            ),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(12,2)"),
                ).otherwise(F.lit(0).cast("decimal(12,2)"))
            )
            .cast("decimal(18,2)")
            .alias("y"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            "treated",
            "y",
            F.least(F.col("n_events"), F.lit(8)).cast("int").alias("stratum"),
        )
        .localCheckpoint()
    )
    models = users.groupBy("stratum").agg(
        F.sum("treated").cast("long").alias("n_t"),
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum(F.when(F.col("treated") == 1, F.col("y"))).alias("sy_t"),
        F.sum(F.when(F.col("treated") == 0, F.col("y"))).alias("sy_c"),
    )
    p_hat = F.greatest(
        F.lit(0.05),
        F.least(
            F.lit(0.95), F.col("n_t").cast("double") / F.col("n_all").cast("double")
        ),
    )
    m1 = F.coalesce(
        F.col("sy_t").cast("double") / F.col("n_t").cast("double"), F.lit(0.0)
    )
    m0 = F.coalesce(
        F.col("sy_c").cast("double")
        / (F.col("n_all") - F.col("n_t")).cast("double"),
        F.lit(0.0),
    )
    term = (
        m1
        - m0
        + F.when(
            F.col("treated") == 1,
            (F.col("y").cast("double") - m1) / p_hat,
        ).otherwise(
            -(F.col("y").cast("double") - m0) / (1.0 - p_hat)
        )
    )
    terms = users.join(F.broadcast(models), "stratum").select(
        F.round(term.cast("decimal(28,8)"), 6).cast("decimal(20,6)").alias("t")
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        snap_round(
            F.sum("t").cast("double") / F.count(F.lit(1)).cast("double"), 4
        ).alias("ate_aipw"),
    )


AIPW_ATE_SQL = """
WITH users AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS treated,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(12,2))
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS y,
           CAST(LEAST(COUNT(*), 8) AS INTEGER) AS stratum
    FROM events
    GROUP BY user_id
),
models AS (
    SELECT stratum,
           CAST(SUM(treated) AS BIGINT) AS n_t,
           CAST(COUNT(*) AS BIGINT) AS n_all,
           SUM(CASE WHEN treated = 1 THEN y END) AS sy_t,
           SUM(CASE WHEN treated = 0 THEN y END) AS sy_c
    FROM users GROUP BY stratum
),
terms AS (
    SELECT CAST(ROUND(CAST(
        COALESCE(CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE), 0.0)
        - COALESCE(CAST(sy_c AS DOUBLE) / CAST(n_all - n_t AS DOUBLE), 0.0)
        + CASE WHEN treated = 1
               THEN (CAST(y AS DOUBLE)
                     - COALESCE(CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE), 0.0))
                    / GREATEST(0.05, LEAST(0.95,
                          CAST(n_t AS DOUBLE) / CAST(n_all AS DOUBLE)))
               ELSE -(CAST(y AS DOUBLE)
                      - COALESCE(CAST(sy_c AS DOUBLE) / CAST(n_all - n_t AS DOUBLE), 0.0))
                    / (1.0 - GREATEST(0.05, LEAST(0.95,
                          CAST(n_t AS DOUBLE) / CAST(n_all AS DOUBLE))))
        END AS DECIMAL(28,8)), 6) AS DECIMAL(20,6)) AS t
    FROM users JOIN models USING (stratum)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(ROUND(CAST(CAST(SUM(t) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS ate_aipw
FROM terms
"""


def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test — are quantity VARIANCES equal across return
    flags? The robust (median-centered) Levene variant: one-way ANOVA on
    the absolute deviations from each group's MEDIAN, the test to run
    before trusting a pooled-variance method (ab_ztest's equal-variance
    cousin) and the spread counterpart of anova_oneway's means test.

    Bounded-support discipline end to end: the corpus collapses to
    ≤|flags|·50 (flag, value) cells; each group's DISCRETE median is the
    smallest value whose doubled cumulative count reaches the group size
    (exact integer comparison over the tiny cumulative window); the
    deviations z = |v − med| are exact integers, so the ANOVA sums
    (Σz, Σz² per group) are exact int64 algebra and only the final F
    assembles in double with one snap. Significance at α≈0.05 uses the
    F(2, large-n) critical value 3.0 as an exact-literal threshold on the
    SNAPPED statistic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").cast("long").alias("v"),
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    w_cum = (
        Window.partitionBy("g").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    )
    w_g = Window.partitionBy("g")
    with_med = cells.select(
        "g",
        "v",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_g).alias("n_g"),
    ).withColumn(
        "med",
        F.min(F.when(2 * F.col("cum") >= F.col("n_g"), F.col("v"))).over(w_g),
    )
    z = F.abs(F.col("v") - F.col("med"))
    sums = with_med.groupBy("g").agg(
        F.sum("n").cast("long").alias("n_g"),
        F.sum(z * F.col("n")).cast("long").alias("sz"),
        F.sum(z * z * F.col("n")).cast("long").alias("szz"),
    )
    totals = sums.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("sz").cast("long").alias("sz_all"),
        # per-group double term snapped to decimal BEFORE the cross-group
        # sum — a raw double Σ over groups is partial-order-dependent
        F.sum(
            F.round(
                (
                    F.col("sz").cast("double")
                    * F.col("sz").cast("double")
                    / F.col("n_g").cast("double")
                ).cast("decimal(28,8)"),
                6,
            ).cast("decimal(24,6)")
        ).alias("ss_groups"),
        F.sum("szz").cast("long").alias("szz_all"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    ssb = F.col("ss_groups").cast("double") - (
        F.col("sz_all").cast("double") * F.col("sz_all").cast("double") / nd
    )
    ssw = F.col("szz_all").cast("double") - F.col("ss_groups").cast("double")
    f_stat = (ssb / (kd - 1.0)) / (ssw / (nd - kd))
    return totals.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        snap_round(f_stat, 6).alias("f_stat"),
        (snap_round(f_stat, 6) > 3.0).alias("variances_differ"),
    )


BROWN_FORSYTHE_SQL = """
WITH cells AS (
    SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1, 2
),
with_med AS (
    SELECT g, v, n,
           MIN(CASE WHEN 2 * cum >= n_g THEN v END) OVER (PARTITION BY g) AS med
    FROM (
        SELECT g, v, n,
               SUM(n) OVER (PARTITION BY g ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(n) OVER (PARTITION BY g) AS n_g
        FROM cells
    )
),
sums AS (
    SELECT g,
           CAST(SUM(n) AS BIGINT) AS n_g,
           CAST(SUM(ABS(v - med) * n) AS BIGINT) AS sz,
           CAST(SUM(ABS(v - med) * ABS(v - med) * n) AS BIGINT) AS szz
    FROM with_med GROUP BY g
),
totals AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(n_g) AS BIGINT) AS n,
           CAST(SUM(sz) AS BIGINT) AS sz_all,
           SUM(CAST(ROUND(CAST(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
                    / CAST(n_g AS DOUBLE) AS DECIMAL(28,8)), 6)
                    AS DECIMAL(24,6))) AS ss_groups,
           CAST(SUM(szz) AS BIGINT) AS szz_all
    FROM sums
)
SELECT k AS n_groups,
       n AS n_rows,
       CAST(ROUND(CAST(
           ((CAST(ss_groups AS DOUBLE)
             - CAST(sz_all AS DOUBLE) * CAST(sz_all AS DOUBLE) / CAST(n AS DOUBLE))
            / (CAST(k AS DOUBLE) - 1.0))
           / ((CAST(szz_all AS DOUBLE) - CAST(ss_groups AS DOUBLE))
              / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS f_stat,
       CAST(ROUND(CAST(
           ((CAST(ss_groups AS DOUBLE)
             - CAST(sz_all AS DOUBLE) * CAST(sz_all AS DOUBLE) / CAST(n AS DOUBLE))
            / (CAST(k AS DOUBLE) - 1.0))
           / ((CAST(szz_all AS DOUBLE) - CAST(ss_groups AS DOUBLE))
              / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) > 3.0 AS variances_differ
FROM totals
"""


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the panel-causal estimator completing
    the family (randomized: ab_ztest/ab_cuped; observational cross-
    section: ips_ate/aipw_ate; panel with a pre-period: THIS): treated =
    users who ever click, period split at the data-derived midpoint
    (drift_psi's convention), outcome = mean per-user purchase value per
    (group, period) cell. DiD = (T_post − T_pre) − (C_post − C_pre)
    removes time-invariant group differences AND group-invariant time
    shocks — the two confounders the naive post-period gap absorbs.

    Shape: one (user, period)-grain aggregate, then a 4-cell rollup;
    the estimate is exact-ratio algebra over those 4 cells with one
    association and one snap. The parallel-trends assumption is stated,
    not tested (the pre-period has one cell per arm here; a deployment
    plots multiple pre-periods).
    """
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.floor(
            (
                F.min(F.unix_micros("ts")).cast("double")
                + F.max(F.unix_micros("ts")).cast("double")
            )
            / 2.0
        )
        .cast("long")
        .alias("mid_us")
    )
    treated_users = (
        e.filter(F.col("event_type") == "click").select("user_id").distinct()
    )
    per_up = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy(
            "user_id",
            (F.unix_micros("ts") > F.col("mid_us")).alias("post"),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(12,2)"),
                ).otherwise(F.lit(0).cast("decimal(12,2)"))
            )
            .cast("decimal(18,2)")
            .alias("y")
        )
    )
    cells = (
        per_up.join(
            F.broadcast(treated_users.withColumn("treated", F.lit(1))),
            "user_id",
            "left",
        )
        .groupBy(F.coalesce(F.col("treated"), F.lit(0)).alias("treated"), "post")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("y").alias("sy"),
        )
    )
    m = lambda t, p: F.max(  # noqa: E731
        F.when(
            (F.col("treated") == t) & (F.col("post") == p),
            F.col("sy").cast("double") / F.col("n_users").cast("double"),
        )
    )
    return cells.agg(
        F.sum("n_users").cast("long").alias("n_user_periods"),
        snap_round(m(1, True) - m(1, False), 4).alias("treated_change"),
        snap_round(m(0, True) - m(0, False), 4).alias("control_change"),
        snap_round(
            (m(1, True) - m(1, False)) - (m(0, True) - m(0, False)), 4
        ).alias("did_estimate"),
    )


DIFF_IN_DIFF_SQL = """
WITH bounds AS (
    SELECT CAST(FLOOR((CAST(MIN(epoch_us(ts)) AS DOUBLE)
                       + CAST(MAX(epoch_us(ts)) AS DOUBLE)) / 2.0) AS BIGINT)
               AS mid_us
    FROM events
),
treated_users AS (
    SELECT DISTINCT user_id, 1 AS treated FROM events WHERE event_type = 'click'
),
per_up AS (
    SELECT user_id, epoch_us(ts) > mid_us AS post,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(12,2))
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS y
    FROM events CROSS JOIN bounds
    GROUP BY user_id, epoch_us(ts) > mid_us
),
cells AS (
    SELECT COALESCE(t.treated, 0) AS treated, post,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           SUM(y) AS sy
    FROM per_up p LEFT JOIN treated_users t USING (user_id)
    GROUP BY 1, 2
)
SELECT CAST(SUM(n_users) AS BIGINT) AS n_user_periods,
       CAST(ROUND(CAST(
           MAX(CASE WHEN treated = 1 AND post THEN CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE) END)
           - MAX(CASE WHEN treated = 1 AND NOT post THEN CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE) END)
           AS DECIMAL(28,8)), 4) AS DOUBLE) AS treated_change,
       CAST(ROUND(CAST(
           MAX(CASE WHEN treated = 0 AND post THEN CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE) END)
           - MAX(CASE WHEN treated = 0 AND NOT post THEN CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE) END)
           AS DECIMAL(28,8)), 4) AS DOUBLE) AS control_change,
       CAST(ROUND(CAST(
           (MAX(CASE WHEN treated = 1 AND post THEN CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE) END)
            - MAX(CASE WHEN treated = 1 AND NOT post THEN CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE) END))
           - (MAX(CASE WHEN treated = 0 AND post THEN CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE) END)
              - MAX(CASE WHEN treated = 0 AND NOT post THEN CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE) END))
           AS DECIMAL(28,8)), 4) AS DOUBLE) AS did_estimate
FROM cells
"""


def q_sequential_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring — the interim-look discipline that
    keeps peeking honest: five equal calendar looks, a two-proportion z at
    each look from CUMULATIVE counts, and the Pocock boundary 2.413 (K=5,
    α=0.05 two-sided) instead of 1.96 — because testing five times at 1.96
    inflates the false-positive rate to ~14%. Completes the experiment
    family's TIME axis (one look: ab_ztest; variance reduction: ab_cuped;
    battery: bh_fdr_brands; sequential: THIS).

    The cumulative-look trick is forecast_backtest's prefix construction:
    per-(arm, look) counts aggregate once (map-side combined), and every
    look's z assembles from running sums over the ≤5-row-per-arm relation
    — K looks cost one pass, not K queries. Look boundaries derive from
    the data's exact-microsecond span by integer math; conversion =
    purchase among view/purchase events (event-grain, stated). All counts
    exact; one snapped z per look; `stopped_at_look` is the first
    boundary crossing, a window over the 5-row result.
    """
    e = load_table(spark, sf_dir, "events")
    ev = e.filter(F.col("event_type").isin("view", "purchase"))
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    arm = char_hash32(F.col("user_id").cast("string")) % 2
    look = F.least(
        F.lit(4),
        F.floor(
            (5 * (F.unix_micros("ts") - F.col("lo")))
            / (F.col("hi") - F.col("lo") + 1)
        ),
    ).cast("int")
    slices = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(arm.alias("arm"), look.alias("look"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
        # ≤10 rows, two consumers (each arm's filter) — materialized so the
        # event scan runs once, not once per arm side
        .localCheckpoint()
    )
    w_cum = (
        Window.partitionBy("arm")
        .orderBy("look")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = slices.select(
        "arm",
        "look",
        F.sum("n").over(w_cum).cast("long").alias("cn"),
        F.sum("x").over(w_cum).cast("long").alias("cx"),
    )
    a = cum.filter(F.col("arm") == 0).select(
        "look", F.col("cn").alias("n_a"), F.col("cx").alias("x_a")
    )
    b = cum.filter(F.col("arm") == 1).select(
        "look", F.col("cn").alias("n_b"), F.col("cx").alias("x_b")
    )
    j = a.join(b, "look")
    na, xa = F.col("n_a").cast("double"), F.col("x_a").cast("double")
    nb, xb = F.col("n_b").cast("double"), F.col("x_b").cast("double")
    pp = (xa + xb) / (na + nb)
    z = snap_round(
        (xa / na - xb / nb) / F.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)),
        6,
    )
    whole = Window.partitionBy()
    scored = j.select(
        "look", "n_a", "x_a", "n_b", "x_b", z.alias("z"),
        (F.abs(z) > 2.413).alias("crossed"),
    )
    return scored.select(
        "*",
        F.min(F.when(F.col("crossed"), F.col("look"))).over(whole).alias(
            "stopped_at_look"
        ),
    ).orderBy("look")


SEQUENTIAL_AB_SQL = """
WITH ev AS (
    SELECT user_id, event_type, epoch_us(ts) AS t
    FROM events WHERE event_type IN ('view', 'purchase')
),
bounds AS (SELECT MIN(t) AS lo, MAX(t) AS hi FROM ev),
slices AS (
    SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS arm,
           CAST(LEAST(4, (5 * (t - lo)) // (hi - lo + 1)) AS INTEGER) AS look,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x
    FROM ev CROSS JOIN bounds
    GROUP BY 1, 2
),
cum AS (
    SELECT arm, look,
           CAST(SUM(n) OVER (PARTITION BY arm ORDER BY look
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
           CAST(SUM(x) OVER (PARTITION BY arm ORDER BY look
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cx
    FROM slices
),
j AS (
    SELECT a.look, a.cn AS n_a, a.cx AS x_a, b.cn AS n_b, b.cx AS x_b
    FROM (SELECT * FROM cum WHERE arm = 0) a
    JOIN (SELECT * FROM cum WHERE arm = 1) b USING (look)
),
scored AS (
    SELECT look, n_a, x_a, n_b, x_b,
           CAST(ROUND(CAST(
               (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
               / SQRT(((CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE))
                       / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                      * (1.0 - (CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE))
                               / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS z
    FROM j
)
SELECT look, n_a, x_a, n_b, x_b, z,
       ABS(z) > 2.413 AS crossed,
       MIN(CASE WHEN ABS(z) > 2.413 THEN look END) OVER () AS stopped_at_look
FROM scored
ORDER BY look
"""


def q_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression discontinuity — the fourth causal design,
    completing randomized (ab_*) → observational (ips/aipw) → panel
    (diff_in_diff) → DISCONTINUITY: does crossing the zero-account-balance
    cutoff shift customer order volume? Local linear fits on each side of
    the cutoff within a ±1000 bandwidth; the RD estimate is the gap
    between the two fits' intercepts AT the cutoff — the jump that
    confounders continuous in the running variable cannot produce.

    Both side fits are the closed-form sufficient-statistic OLS (one
    aggregate each, keyed by side — the ols_by_brand shape with side as
    the group); balances are exact DECIMAL(12,2) so the moment sums are
    exact; the two intercepts and their gap assemble in double with one
    snap each. Bandwidth and cutoff are stated constants (a deployment
    derives the bandwidth by cross-validation; the estimator algebra is
    identical).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.count("o_orderkey").cast("long").alias("y"))
    )
    banded = per_cust.select(
        F.col("c_acctbal").cast("decimal(12,2)").alias("x"),
        "y",
        (F.col("c_acctbal") >= 0).alias("right_side"),
    ).filter(
        (F.col("x") >= F.lit(-1000).cast("decimal(12,2)"))
        & (F.col("x") <= F.lit(1000).cast("decimal(12,2)"))
    )
    sums = banded.groupBy("right_side").agg(
        *line_sums(F.col("x"), F.col("y").cast("decimal(18,0)"))
    )
    slope, intercept = line_fit()
    fits = sums.select(
        "right_side",
        F.col("n").cast("long").alias("n"),
        snap_round(intercept, 6).alias("icept"),
        snap_round(slope, 8).alias("slope"),
    )
    r = fits.filter(F.col("right_side")).select(
        F.col("n").alias("n_right"),
        F.col("icept").alias("i_r"),
        F.col("slope").alias("s_r"),
    )
    l_ = fits.filter(~F.col("right_side")).select(
        F.col("n").alias("n_left"),
        F.col("icept").alias("i_l"),
        F.col("slope").alias("s_l"),
    )
    return r.crossJoin(l_).select(
        "n_left",
        "n_right",
        F.col("i_l").alias("intercept_left"),
        F.col("i_r").alias("intercept_right"),
        snap_round(F.col("i_r") - F.col("i_l"), 6).alias("rd_estimate"),
    )


REGRESSION_DISCONTINUITY_SQL = f"""
WITH per_cust AS (
    SELECT c.c_custkey, c.c_acctbal,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS y
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_acctbal
),
banded AS (
    SELECT CAST(c_acctbal AS DECIMAL(12,2)) AS x, CAST(y AS DECIMAL(18,0)) AS y,
           c_acctbal >= 0 AS right_side
    FROM per_cust
    WHERE CAST(c_acctbal AS DECIMAL(12,2)) BETWEEN -1000 AND 1000
),
sums AS (
    SELECT right_side, {line_sums_sql("x")}
    FROM banded GROUP BY right_side
),
fits AS (
    SELECT right_side, CAST(n AS BIGINT) AS n,
           CAST(ROUND(CAST(intercept AS DECIMAL(28,8)), 6) AS DOUBLE) AS icept
    FROM {line_fit_sql("sums")}
)
SELECT l.n AS n_left, r.n AS n_right,
       l.icept AS intercept_left,
       r.icept AS intercept_right,
       CAST(ROUND(CAST(r.icept - l.icept AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS rd_estimate
FROM (SELECT * FROM fits WHERE right_side) r
CROSS JOIN (SELECT * FROM fits WHERE NOT right_side) l
"""


def q_ucb_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 bandit allocation — which arm an adaptive experimenter pulls
    NEXT given the data so far: score(arm) = mean reward + √(2·ln N / n),
    the optimism bonus that trades exploitation against exploration (Auer
    et al. 2002). The ADAPTIVE member of the experiment family: ab_ztest
    decides after the fact, sequential_ab monitors a fixed split, UCB
    *allocates*. Arms = event types, reward = event value.

    Exactness: per-arm counts and reward sums are exact (values snapped
    to decimal per row); one ln and one sqrt per ARM on identical doubles
    with a single snapped score; the winner is the max-score arm under a
    total (score desc, arm) order. Scale: one map-side-combined arm
    rollup; everything after is ≤|arms| rows.
    """
    e = load_table(spark, sf_dir, "events")
    arms = e.filter(F.col("value").isNotNull()).groupBy(
        F.col("event_type").alias("arm")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pulls"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .alias("reward_sum"),
    )
    whole = Window.partitionBy()
    with_n = arms.withColumn(
        "n_total", F.sum("n_pulls").over(whole).cast("long")
    )
    mean_r = F.col("reward_sum").cast("double") / F.col("n_pulls").cast("double")
    bonus = F.sqrt(
        2.0 * F.log(F.col("n_total").cast("double"))
        / F.col("n_pulls").cast("double")
    )
    score = snap_round(mean_r + bonus, 6)
    scored = with_n.select(
        "arm",
        "n_pulls",
        snap_round(mean_r, 6).alias("mean_reward"),
        score.alias("ucb_score"),
    )
    return scored.select(
        "*",
        (
            F.col("ucb_score")
            == F.max("ucb_score").over(Window.partitionBy())
        ).alias("pull_next"),
    ).orderBy(F.desc("ucb_score"), "arm")


UCB_ALLOCATION_SQL = """
WITH arms AS (
    SELECT event_type AS arm,
           CAST(COUNT(*) AS BIGINT) AS n_pulls,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS reward_sum
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
),
scored AS (
    SELECT arm, n_pulls,
           CAST(ROUND(CAST(CAST(reward_sum AS DOUBLE) / CAST(n_pulls AS DOUBLE)
                AS DECIMAL(28,8)), 6) AS DOUBLE) AS mean_reward,
           CAST(ROUND(CAST(
               CAST(reward_sum AS DOUBLE) / CAST(n_pulls AS DOUBLE)
               + SQRT(2.0 * LN(CAST(SUM(n_pulls) OVER () AS DOUBLE))
                      / CAST(n_pulls AS DOUBLE))
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS ucb_score
    FROM arms
)
SELECT arm, n_pulls, mean_reward, ucb_score,
       ucb_score = MAX(ucb_score) OVER () AS pull_next
FROM scored
ORDER BY ucb_score DESC, arm
"""


def q_overdispersion_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-data overdispersion check — per event type, is the daily
    event count Poisson-like (dispersion index D = s²/x̄ ≈ 1) or
    overdispersed (D ≫ 1, bursty arrivals)? The modeling gate BEFORE any
    Poisson-rate assumption (seasonal_anomaly's control limits, rate
    comparisons): an overdispersed series needs negative-binomial-width
    intervals or every alert threshold fires too often.

    One (type, day) aggregate, then exact per-type power sums; D and the
    χ²-approximate flag (D·(n−1) > n−1+3·√(2(n−1)) — the normal
    approximation to the dispersion test at ~3σ) assemble in double with
    single snaps. Everything after the first rollup is ≤|types| rows.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    sums = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
    )
    n = F.col("n_days").cast("double")
    mean = F.col("sc").cast("double") / n
    var = (F.col("scc").cast("double") - F.col("sc").cast("double") * mean) / (
        n - 1.0
    )
    disp = snap_round(var / mean, 6)
    thresh = 1.0 + 3.0 * F.sqrt(2.0 / (n - 1.0))
    return sums.select(
        "event_type",
        "n_days",
        snap_round(mean, 4).alias("mean_daily"),
        disp.alias("dispersion_index"),
        (disp > snap_round(thresh, 6)).alias("overdispersed"),
    ).orderBy("event_type")


OVERDISPERSION_CHECK_SQL = """
WITH daily AS (
    SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
sums AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(c) AS BIGINT) AS sc,
           CAST(SUM(c * c) AS BIGINT) AS scc
    FROM daily GROUP BY event_type
)
SELECT event_type, n_days,
       CAST(ROUND(CAST(CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE)
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS mean_daily,
       CAST(ROUND(CAST(
           ((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE)
             * (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE)))
            / (CAST(n_days AS DOUBLE) - 1.0))
           / (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS dispersion_index,
       CAST(ROUND(CAST(
           ((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE)
             * (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE)))
            / (CAST(n_days AS DOUBLE) - 1.0))
           / (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
           AS DECIMAL(28,8)), 6) AS DOUBLE)
       > CAST(ROUND(CAST(1.0 + 3.0 * SQRT(2.0 / (CAST(n_days AS DOUBLE) - 1.0))
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS overdispersed
FROM sums
ORDER BY event_type
"""


def q_propensity_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positivity / overlap diagnostic for the observational estimators —
    the check that DECIDES whether ips_ate/aipw_ate are trustworthy (the
    skew_profile philosophy: ship the diagnosis beside the treatment):
    per stratum, the propensity p̂, whether it falls outside the [0.05,
    0.95] clip (where IPS weights explode and the estimate leans on the
    clip, not the data), and the share of users in such strata. Same
    user-grain/stratum construction as ips_ate — shared semantics.
    """
    e = load_table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "treated"
        ),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "treated", F.least(F.col("n_events"), F.lit(8)).cast("int").alias("stratum")
    )
    prop = users.groupBy("stratum").agg(
        F.sum("treated").cast("long").alias("n_t"),
        F.count(F.lit(1)).cast("long").alias("n_all"),
    )
    p_hat = snap_round(
        F.col("n_t").cast("double") / F.col("n_all").cast("double"), 6
    )
    flagged = prop.select(
        "stratum",
        "n_all",
        p_hat.alias("propensity"),
        ((p_hat < 0.05) | (p_hat > 0.95)).alias("outside_clip"),
    )
    whole = Window.partitionBy()
    return flagged.select(
        "*",
        snap_round(
            F.sum(F.when(F.col("outside_clip"), F.col("n_all")).otherwise(0)).over(
                whole
            ).cast("double")
            / F.sum("n_all").over(whole).cast("double"),
            6,
        ).alias("share_outside_clip"),
    ).orderBy("stratum")


PROPENSITY_OVERLAP_SQL = """
WITH users AS (
    SELECT MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS treated,
           CAST(LEAST(COUNT(*), 8) AS INTEGER) AS stratum
    FROM events GROUP BY user_id
),
prop AS (
    SELECT stratum,
           CAST(SUM(treated) AS BIGINT) AS n_t,
           CAST(COUNT(*) AS BIGINT) AS n_all
    FROM users GROUP BY stratum
),
flagged AS (
    SELECT stratum, n_all,
           CAST(ROUND(CAST(CAST(n_t AS DOUBLE) / CAST(n_all AS DOUBLE)
                AS DECIMAL(28,8)), 6) AS DOUBLE) AS propensity
    FROM prop
)
SELECT stratum, n_all, propensity,
       propensity < 0.05 OR propensity > 0.95 AS outside_clip,
       CAST(ROUND(CAST(
           CAST(SUM(CASE WHEN propensity < 0.05 OR propensity > 0.95
                         THEN n_all ELSE 0 END) OVER () AS DOUBLE)
           / CAST(SUM(n_all) OVER () AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS share_outside_clip
FROM flagged
ORDER BY stratum
"""


def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect — the experiment-DESIGN number computed
    BEFORE launching (completing the loop: power → allocate (ucb) →
    monitor (sequential_ab) → decide (ab_ztest) → correct (bh_fdr)): with
    the arms' observed sizes and the pooled outcome variance, the
    smallest true lift a two-sided α=0.05 test detects with 80% power is
    MDE = (z_{α/2} + z_β)·σ·√(1/n_a + 1/n_b), z constants 1.96/0.8416 as
    exact literals. Variance from exact decimal power sums (the
    stats_moments discipline); one snapped MDE, absolute and relative.
    """
    e = load_table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(12,2)"),
            ).otherwise(F.lit(0).cast("decimal(12,2)"))
        )
        .cast("decimal(18,2)")
        .alias("y")
    )
    arm = char_hash32(F.col("user_id").cast("string")) % 2
    sums = users.select(arm.alias("g"), "y").agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("nb"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("sy").cast("double") / nd
    var = (F.col("syy").cast("double") - F.col("sy").cast("double") * mean) / (
        nd - 1.0
    )
    mde = (
        (1.96 + 0.8416)
        * F.sqrt(var)
        * F.sqrt(1.0 / F.col("na").cast("double") + 1.0 / F.col("nb").cast("double"))
    )
    return sums.select(
        "na",
        "nb",
        snap_round(mean, 4).alias("mean_outcome"),
        snap_round(F.sqrt(var), 4).alias("sd_outcome"),
        snap_round(mde, 4).alias("mde_absolute"),
        snap_round(mde / mean, 6).alias("mde_relative"),
    )


POWER_ANALYSIS_SQL = """
WITH users AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(12,2))
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS y
    FROM events GROUP BY user_id
),
sums AS (
    SELECT CAST(SUM(CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(SUM(CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(y) AS sy,
           SUM(y * y) AS syy
    FROM users
)
SELECT na, nb,
       CAST(ROUND(CAST(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS mean_outcome,
       CAST(ROUND(CAST(SQRT((CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
            / (CAST(n AS DOUBLE) - 1.0)) AS DECIMAL(28,8)), 4) AS DOUBLE)
           AS sd_outcome,
       CAST(ROUND(CAST(
           (1.96 + 0.8416)
           * SQRT((CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
                  / (CAST(n AS DOUBLE) - 1.0))
           * SQRT(1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))
           AS DECIMAL(28,8)), 4) AS DOUBLE) AS mde_absolute,
       CAST(ROUND(CAST(
           ((1.96 + 0.8416)
            * SQRT((CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
                   / (CAST(n AS DOUBLE) - 1.0))
            * SQRT(1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))
           / (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS mde_relative
FROM sums
"""


def q_simpsons_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox detector — does the POOLED discount→return-rate
    association reverse inside strata? The aggregation-bias audit every
    dashboard needs before anyone acts on a pooled trend: the pooled
    linear-probability slope of P(returned) on discount, each brand's own
    slope from the same sufficient statistics (the ols_by_brand algebra,
    1 feature), and how many brands' slopes disagree in sign with the
    pooled one. A paradox flag fires when the majority of within-brand
    slopes contradict the pooled direction.

    All moment sums exact (discount percent and the 0/1 outcome are
    integers); slopes assemble in double and snap BEFORE sign comparison
    so both engines classify identically; one ≤|brands| relation after
    the single fact pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p_ = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = li.join(F.broadcast(p_), li.l_partkey == p_.p_partkey).select(
        "p_brand",
        (F.col("l_discount").cast("decimal(4,2)") * 100).cast("long").alias("x"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    sums = base.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    ).localCheckpoint()

    def slope(n, sx, sy, sxy, sxx):
        nd = n.cast("double")
        return snap_round(
            (nd * sxy.cast("double") - sx.cast("double") * sy.cast("double"))
            / (nd * sxx.cast("double") - sx.cast("double") * sx.cast("double")),
            8,
        )

    per_brand = sums.select(
        "p_brand",
        slope(
            F.col("n"), F.col("sx"), F.col("sy"), F.col("sxy"), F.col("sxx")
        ).alias("b_slope"),
    )
    pooled = sums.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sx").cast("long").alias("sx"),
        F.sum("sy").cast("long").alias("sy"),
        F.sum("sxy").cast("long").alias("sxy"),
        F.sum("sxx").cast("long").alias("sxx"),
    ).select(
        slope(
            F.col("n"), F.col("sx"), F.col("sy"), F.col("sxy"), F.col("sxx")
        ).alias("pooled_slope")
    )
    return (
        per_brand.crossJoin(F.broadcast(pooled))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_brands"),
            F.max("pooled_slope").alias("pooled_slope"),
            F.sum(
                F.when(
                    F.signum("b_slope") != F.signum("pooled_slope"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_sign_reversed"),
        )
        .select(
            "n_brands",
            "pooled_slope",
            "n_sign_reversed",
            (2 * F.col("n_sign_reversed") > F.col("n_brands")).alias(
                "simpsons_paradox"
            ),
        )
    )


SIMPSONS_CHECK_SQL = """
WITH base AS (
    SELECT p_brand,
           CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS x,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
sums AS (
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM base GROUP BY p_brand
),
per_brand AS (
    SELECT p_brand,
           CAST(ROUND(CAST(
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               AS DECIMAL(28,10)), 8) AS DOUBLE) AS b_slope
    FROM sums
),
pooled AS (
    SELECT CAST(ROUND(CAST(
               (CAST(SUM(n) AS DOUBLE) * CAST(SUM(sxy) AS DOUBLE)
                - CAST(SUM(sx) AS DOUBLE) * CAST(SUM(sy) AS DOUBLE))
               / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(sxx) AS DOUBLE)
                  - CAST(SUM(sx) AS DOUBLE) * CAST(SUM(sx) AS DOUBLE))
               AS DECIMAL(28,10)), 8) AS DOUBLE) AS pooled_slope
    FROM sums
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
       MAX(pooled_slope) AS pooled_slope,
       CAST(SUM(CASE WHEN SIGN(b_slope) != SIGN(pooled_slope) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_sign_reversed,
       2 * SUM(CASE WHEN SIGN(b_slope) != SIGN(pooled_slope) THEN 1 ELSE 0 END)
           > COUNT(*) AS simpsons_paradox
FROM per_brand CROSS JOIN pooled
"""


def q_mediation_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mediation analysis (difference method) — HOW MUCH of the discount→
    return-rate effect flows THROUGH quantity: the total effect (the
    slope of y on x), the direct effect controlling for the mediator (the
    x coefficient of the two-feature y ~ x + m fit — the ols_price_model
    Cramer algebra), and the indirect effect as their difference, plus
    the mediated share. The DECOMPOSITION member of the causal family —
    the others estimate whether an effect exists; this one says through
    what channel.

    All three fits assemble from ONE sufficient-statistic pass (x =
    discount%, m = quantity, y = returned are bounded integers, so the
    10 moment sums are exact int64); coefficients snap at 8 dp before the
    subtraction so the decomposition is engine-identical.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_discount").cast("decimal(4,2)") * 100).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("m"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    s = base.agg(
        *line_sums(F.col("x"), F.col("y")),
        *[
            F.sum(moment).cast("double").alias(c)
            for moment, c in (
                (F.col("m"), "sm"),
                (F.col("m") * F.col("m"), "smm"),
                (F.col("x") * F.col("m"), "sxm"),
                (F.col("m") * F.col("y"), "smy"),
            )
        ],
    )
    n, sx, sm, sy, sxx, smm, sxm, sxy, smy = [
        F.col(c) for c in ("n", "sx", "sm", "sy", "sxx", "smm", "sxm", "sxy", "smy")
    ]
    total = snap_round(line_fit()[0], 8)
    # two-feature direct effect by Cramer on the centered normal equations
    det = (
        n * (sxx * smm - sxm * sxm)
        - sx * (sx * smm - sxm * sm)
        + sm * (sx * sxm - sxx * sm)
    )
    det_x = (
        n * (sxy * smm - sxm * smy)
        - sy * (sx * smm - sxm * sm)
        + sm * (sx * smy - sxy * sm)
    )
    direct = snap_round(det_x / det, 8)
    return s.select(
        F.col("n").cast("long").alias("n_rows"),
        total.alias("total_effect"),
        direct.alias("direct_effect"),
        snap_round(total - direct, 8).alias("indirect_effect"),
        snap_round(
            F.when(F.abs(total) > 1e-12, (total - direct) / total), 6
        ).alias("mediated_share"),
    )


MEDIATION_ANALYSIS_SQL = f"""
WITH base AS (
    SELECT CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS x,
           CAST(l_quantity AS BIGINT) AS m,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
    FROM lineitem
),
s AS (
    SELECT {line_sums_sql("x")},
           CAST(SUM(m) AS DOUBLE) AS sm, CAST(SUM(m * m) AS DOUBLE) AS smm,
           CAST(SUM(x * m) AS DOUBLE) AS sxm, CAST(SUM(m * y) AS DOUBLE) AS smy
    FROM base
),
fx AS (
    SELECT CAST(n AS BIGINT) AS n,
           CAST(ROUND(CAST(slope AS DECIMAL(28,10)), 8) AS DOUBLE) AS total_effect,
           CAST(ROUND(CAST(
               (n * (sxy * smm - sxm * smy)
                - sy * (sx * smm - sxm * sm)
                + sm * (sx * smy - sxy * sm))
               / (n * (sxx * smm - sxm * sxm)
                  - sx * (sx * smm - sxm * sm)
                  + sm * (sx * sxm - sxx * sm))
               AS DECIMAL(28,10)), 8) AS DOUBLE) AS direct_effect
    FROM {line_fit_sql("s")}
)
SELECT n AS n_rows, total_effect, direct_effect,
       CAST(ROUND(CAST(total_effect - direct_effect AS DECIMAL(28,10)), 8)
            AS DOUBLE) AS indirect_effect,
       CAST(ROUND(CAST(CASE WHEN ABS(total_effect) > 1e-12
            THEN (total_effect - direct_effect) / total_effect END
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS mediated_share
FROM fx
"""


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test: do the three return-flag cohorts (A/N/R)
    draw their quantities from the same distribution? The k-group
    generalization of q_mann_whitney, completing the nonparametric rung of
    the hypothesis-test ladder (z → ANOVA → U → H).

    Same rank-without-sort machinery as mann_whitney: l_quantity has
    bounded integral support (1..50), so ranks are a window over the
    ≤50-row per-value aggregate and DOUBLED midranks stay exact int64
    (R2(v) = 2·cum_before + n_v + 1). Doubled per-group rank sums
    R2_g = Σ_v n_gv·R2(v) are exact int64; the three groups PIVOT into one
    row by conditional aggregation, so H assembles as a single fixed-order
    double expression (never a float SUM over a group-ordered frame, whose
    accumulation order differs between engines):
        H = 12/(N(N+1)) · Σ_g (R2_g/2)²/n_g − 3(N+1),
    tie-corrected by 1 − Σ(t³−t)/(N³−N) with the tie sum in DECIMAL(38,0)
    (t³ overflows int64 past ~2M rows per value). Verdict compares H' to
    the χ²(df=2, α=.05) critical value 5.991 — no CDF needed, and both
    engines compare the same snapped double.

    Scale: one scan → ≤50-row aggregate; everything after is constant.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_v = (
        li.select(
            F.col("l_quantity").cast("long").alias("v"), F.col("l_returnflag")
        )
        .groupBy("v")
        .agg(
            *[
                F.sum(F.when(F.col("l_returnflag") == g, 1).otherwise(0))
                .cast("long")
                .alias(f"n{g}_v")
                for g in ("A", "N", "R")
            ]
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    n_v = F.col("nA_v") + F.col("nN_v") + F.col("nR_v")
    ranked = per_v.select(
        "nA_v",
        "nN_v",
        "nR_v",
        n_v.alias("n_v"),
        (
            2 * F.coalesce(F.sum(n_v).over(w), F.lit(0)) + n_v + 1
        ).alias("r2"),
    )
    sums = ranked.agg(
        *[
            F.sum(f"n{g}_v").cast("long").alias(f"n_{g}")
            for g in ("A", "N", "R")
        ],
        *[
            F.sum(F.col(f"n{g}_v") * F.col("r2")).cast("long").alias(f"r2_{g}")
            for g in ("A", "N", "R")
        ],
        F.sum(
            F.col("n_v").cast("decimal(38,0)")
            * F.col("n_v").cast("decimal(38,0)")
            * F.col("n_v").cast("decimal(38,0)")
            - F.col("n_v").cast("decimal(38,0)")
        ).alias("t_sum"),
    )
    n = (F.col("n_A") + F.col("n_N") + F.col("n_R")).cast("double")
    term = lambda g: (  # noqa: E731 — (R2_g/2)² / n_g, one group's H share
        (F.col(f"r2_{g}").cast("double") / F.lit(2.0))
        * (F.col(f"r2_{g}").cast("double") / F.lit(2.0))
        / F.col(f"n_{g}").cast("double")
    )
    h = (
        F.lit(12.0) / (n * (n + F.lit(1.0)))
        * (term("A") + term("N") + term("R"))
        - F.lit(3.0) * (n + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("t_sum").cast("double") / (n * n * n - n)
    h_c = snap_round(h / corr, 6)
    return sums.select(
        (F.col("n_A") + F.col("n_N") + F.col("n_R")).alias("n_total"),
        "n_A",
        "n_N",
        "n_R",
        h_c.alias("h_statistic"),
        (h_c > 5.991).alias("distributions_differ"),
    )


KRUSKAL_WALLIS_SQL = """
WITH per_v AS (
    SELECT CAST(l_quantity AS BIGINT) AS v,
           CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS nA_v,
           CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS nN_v,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nR_v
    FROM lineitem GROUP BY 1
),
ranked AS (
    SELECT nA_v, nN_v, nR_v,
           nA_v + nN_v + nR_v AS n_v,
           2 * COALESCE(SUM(nA_v + nN_v + nR_v) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (nA_v + nN_v + nR_v) + 1 AS r2
    FROM per_v
),
sums AS (
    SELECT CAST(SUM(nA_v) AS BIGINT) AS n_A,
           CAST(SUM(nN_v) AS BIGINT) AS n_N,
           CAST(SUM(nR_v) AS BIGINT) AS n_R,
           CAST(SUM(nA_v * r2) AS BIGINT) AS r2_A,
           CAST(SUM(nN_v * r2) AS BIGINT) AS r2_N,
           CAST(SUM(nR_v * r2) AS BIGINT) AS r2_R,
           SUM(CAST(n_v AS DECIMAL(38,0)) * CAST(n_v AS DECIMAL(38,0))
               * CAST(n_v AS DECIMAL(38,0)) - CAST(n_v AS DECIMAL(38,0))) AS t_sum
    FROM ranked
),
calc AS (
    SELECT n_A, n_N, n_R,
           CAST(n_A + n_N + n_R AS DOUBLE) AS n,
           (CAST(r2_A AS DOUBLE) / 2.0) * (CAST(r2_A AS DOUBLE) / 2.0) / CAST(n_A AS DOUBLE)
         + (CAST(r2_N AS DOUBLE) / 2.0) * (CAST(r2_N AS DOUBLE) / 2.0) / CAST(n_N AS DOUBLE)
         + (CAST(r2_R AS DOUBLE) / 2.0) * (CAST(r2_R AS DOUBLE) / 2.0) / CAST(n_R AS DOUBLE)
           AS rank_terms,
           CAST(t_sum AS DOUBLE) AS ties
    FROM sums
)
SELECT CAST(n_A + n_N + n_R AS BIGINT) AS n_total, n_A, n_N, n_R,
       CAST(ROUND(CAST((12.0 / (n * (n + 1.0)) * rank_terms - 3.0 * (n + 1.0))
                       / (1.0 - ties / (n * n * n - n))
                  AS DECIMAL(28,8)), 6) AS DOUBLE) AS h_statistic,
       CAST(ROUND(CAST((12.0 / (n * (n + 1.0)) * rank_terms - 3.0 * (n + 1.0))
                       / (1.0 - ties / (n * n * n - n))
                  AS DECIMAL(28,8)), 6) AS DOUBLE) > 5.991 AS distributions_differ
FROM calc
"""


def q_iv_2sls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variables estimate (single instrument ⇒ the Wald/2SLS
    estimator collapses to a covariance ratio): the causal effect of
    purchases on spend where naive OLS is confounded by user activity,
    instrumented by signup events (the encouragement-design story:
    signups shift purchase propensity but affect spend only through
    purchases). The causal-inference rung beyond ips_ate/aipw_ate: those
    need ignorability, IV does not.

        β_IV = Cov(z, y) / Cov(z, x)   (z=signups, x=purchases, y=spend)

    Exactness: the user-grain z/x/y and all five cross-moments are exact
    sums (counts int64; spend DECIMAL(18,2), products in DECIMAL(38,*)),
    n·Σzy − Σz·Σy style numerators stay in exact decimal, and ONLY the
    final ratios are double — identical algebra, identical inputs, both
    engines. First-stage strength reports alongside (weak instruments
    invalidate IV): coef = Cov(z,x)/Var(z) and its t² ≈ n·ρ²/(1−ρ²).

    Scale: one user_id shuffle for the grain, one 1-row moment aggregate.
    """
    e = load_table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        .cast("long")
        .alias("z"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(18,2)"),
            ).otherwise(F.lit(0).cast("decimal(18,2)"))
        ).alias("y"),
    )
    yd = F.col("y").cast("decimal(28,2)")
    m = users.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").cast("long").alias("sz"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(F.col("z") * F.col("x")).cast("long").alias("szx"),
        F.sum(F.col("z") * yd).alias("szy"),
        F.sum(F.col("x") * yd).alias("sxy"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("szz"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    n = F.col("n").cast("double")
    cov_zy = F.col("szy").cast("double") - F.col("sz").cast("double") * F.col(
        "sy"
    ).cast("double") / n
    cov_zx = F.col("szx").cast("double") - F.col("sz").cast("double") * F.col(
        "sx"
    ).cast("double") / n
    var_z = F.col("szz").cast("double") - F.col("sz").cast("double") * F.col(
        "sz"
    ).cast("double") / n
    cov_xy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double") / n
    var_x = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double") / n
    rho2 = (cov_zx * cov_zx) / (var_z * var_x)
    return m.select(
        F.col("n").alias("n_users"),
        snap_round(cov_zx / var_z, 6).alias("first_stage_coef"),
        # a PERFECT first stage (rho²=1, e.g. x deterministically = z)
        # makes the F-stat infinite: report NULL rather than divide by 0
        F.when(
            rho2 < 1.0, snap_round(n * rho2 / (F.lit(1.0) - rho2), 4)
        ).alias("first_stage_f"),
        snap_round(cov_zy / cov_zx, 6).alias("iv_beta"),
        snap_round(cov_xy / var_x, 6).alias("ols_beta"),
    )


IV_2SLS_SQL = """
WITH users AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS z,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x,
           SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(value AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
    FROM events GROUP BY user_id
),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(z) AS BIGINT) AS sz,
           CAST(SUM(x) AS BIGINT) AS sx,
           SUM(CAST(y AS DECIMAL(28,2))) AS sy,
           CAST(SUM(z * x) AS BIGINT) AS szx,
           SUM(z * CAST(y AS DECIMAL(28,2))) AS szy,
           SUM(x * CAST(y AS DECIMAL(28,2))) AS sxy,
           CAST(SUM(z * z) AS BIGINT) AS szz,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM users
),
c AS (
    SELECT n,
           CAST(szy AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cov_zy,
           CAST(szx AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS cov_zx,
           CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / CAST(n AS DOUBLE) AS var_z,
           CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cov_xy,
           CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS var_x
    FROM m
)
SELECT n AS n_users,
       CAST(ROUND(CAST(cov_zx / var_z AS DECIMAL(28,8)), 6) AS DOUBLE) AS first_stage_coef,
       CASE WHEN (cov_zx * cov_zx) / (var_z * var_x) < 1.0
            THEN CAST(ROUND(CAST(CAST(n AS DOUBLE)
                       * ((cov_zx * cov_zx) / (var_z * var_x))
                       / (1.0 - (cov_zx * cov_zx) / (var_z * var_x))
                  AS DECIMAL(28,8)), 4) AS DOUBLE) END AS first_stage_f,
       CAST(ROUND(CAST(cov_zy / cov_zx AS DECIMAL(28,8)), 6) AS DOUBLE) AS iv_beta,
       CAST(ROUND(CAST(cov_xy / var_x AS DECIMAL(28,8)), 6) AS DOUBLE) AS ols_beta
FROM c
"""


def q_jackknife_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife for a ratio metric — the standard-error
    machinery for statistics that don't decompose row-wise (revenue per
    order here; any ratio-of-sums in general). Bootstrap (q_bootstrap_ci
    _mean) resamples rows; the jackknife deletes GROUPS (the 25 customer
    nations), which is the estimator production pipelines can afford at
    100 TB: the g leave-one-out replicates all derive from ONE aggregate
    pass, no resampling reads.

        θ̂_(i) = (T − t_i)/(N − n_i);  var_jack = (g−1)/g · Σ(θ̂_(i) − θ̄)²

    Determinism: every θ̂_(i) snaps to DECIMAL(18,8) before the spread
    sum, so Σ(θ̂−θ̄)² runs in EXACT decimal (a float Σ over 25
    group-ordered doubles is accumulation-order-dependent); θ̄ is an
    exact decimal mean of the snapped replicates. Only the final
    variance/CI expressions are double.

    Scale: one orders scan → 25-row group aggregate; everything after is
    constant-size algebra.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    groups = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("t_i"),
            F.count(F.lit(1)).cast("long").alias("n_i"),
        )
        .localCheckpoint()  # feeds totals AND replicates
    )
    totals = groups.agg(
        F.sum("t_i").cast("decimal(28,2)").alias("t_all"),
        F.sum("n_i").cast("long").alias("n_all"),
        F.count(F.lit(1)).cast("long").alias("g"),
    )
    reps = groups.crossJoin(F.broadcast(totals)).select(
        "g",
        "t_all",
        "n_all",
        F.round(
            (
                (F.col("t_all") - F.col("t_i")).cast("double")
                / (F.col("n_all") - F.col("n_i")).cast("double")
            ).cast("decimal(28,10)"),
            8,
        )
        .cast("decimal(18,8)")
        .alias("theta_i"),
    )
    spread = reps.groupBy("g", "t_all", "n_all").agg(
        F.sum("theta_i").alias("sum_theta"),
        F.sum(
            F.col("theta_i").cast("decimal(38,8)") * F.col("theta_i").cast("decimal(38,8)")
        ).alias("sum_theta2"),
    )
    gd = F.col("g").cast("double")
    mean_t = F.col("sum_theta").cast("double") / gd
    # Σ(θ−θ̄)² = Σθ² − (Σθ)²/g, all from exact decimal sums
    ss = F.col("sum_theta2").cast("double") - F.col("sum_theta").cast("double") * F.col(
        "sum_theta"
    ).cast("double") / gd
    var_jack = (gd - F.lit(1.0)) / gd * ss
    point = F.col("t_all").cast("double") / F.col("n_all").cast("double")
    return spread.select(
        F.col("g").alias("n_groups"),
        F.col("n_all").alias("n_orders"),
        snap_round(point, 6).alias("revenue_per_order"),
        snap_round(mean_t, 6).alias("jackknife_mean"),
        snap_round(F.sqrt(var_jack), 6).alias("jackknife_se"),
        snap_round(point - F.lit(1.96) * F.sqrt(var_jack), 6).alias("ci_low"),
        snap_round(point + F.lit(1.96) * F.sqrt(var_jack), 6).alias("ci_high"),
    )


JACKKNIFE_VARIANCE_SQL = """
WITH groups AS (
    SELECT c_nationkey,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS t_i,
           CAST(COUNT(*) AS BIGINT) AS n_i
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
),
totals AS (
    SELECT CAST(SUM(t_i) AS DECIMAL(28,2)) AS t_all,
           CAST(SUM(n_i) AS BIGINT) AS n_all,
           CAST(COUNT(*) AS BIGINT) AS g
    FROM groups
),
reps AS (
    SELECT g, t_all, n_all,
           CAST(ROUND(CAST(CAST(t_all - t_i AS DOUBLE) / CAST(n_all - n_i AS DOUBLE)
                AS DECIMAL(28,10)), 8) AS DECIMAL(18,8)) AS theta_i
    FROM groups CROSS JOIN totals
),
spread AS (
    SELECT g, t_all, n_all,
           SUM(theta_i) AS sum_theta,
           SUM(CAST(theta_i AS DECIMAL(38,8)) * CAST(theta_i AS DECIMAL(38,8))) AS sum_theta2
    FROM reps GROUP BY g, t_all, n_all
)
SELECT g AS n_groups, n_all AS n_orders,
       CAST(ROUND(CAST(CAST(t_all AS DOUBLE) / CAST(n_all AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS revenue_per_order,
       CAST(ROUND(CAST(CAST(sum_theta AS DOUBLE) / CAST(g AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS jackknife_mean,
       CAST(ROUND(CAST(SQRT((CAST(g AS DOUBLE) - 1.0) / CAST(g AS DOUBLE)
                 * (CAST(sum_theta2 AS DOUBLE)
                    - CAST(sum_theta AS DOUBLE) * CAST(sum_theta AS DOUBLE) / CAST(g AS DOUBLE)))
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS jackknife_se,
       CAST(ROUND(CAST(CAST(t_all AS DOUBLE) / CAST(n_all AS DOUBLE)
                 - 1.96 * SQRT((CAST(g AS DOUBLE) - 1.0) / CAST(g AS DOUBLE)
                 * (CAST(sum_theta2 AS DOUBLE)
                    - CAST(sum_theta AS DOUBLE) * CAST(sum_theta AS DOUBLE) / CAST(g AS DOUBLE)))
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS ci_low,
       CAST(ROUND(CAST(CAST(t_all AS DOUBLE) / CAST(n_all AS DOUBLE)
                 + 1.96 * SQRT((CAST(g AS DOUBLE) - 1.0) / CAST(g AS DOUBLE)
                 * (CAST(sum_theta2 AS DOUBLE)
                    - CAST(sum_theta AS DOUBLE) * CAST(sum_theta AS DOUBLE) / CAST(g AS DOUBLE)))
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS ci_high
FROM spread
"""


def q_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of order quantity and order value CONTROLLING
    for line count — the confound-aware member of the correlation family:
    raw corr(qty, value) is inflated because both scale with how many
    lines an order has; r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²))
    removes the linear effect of z = n_lines and reports the association
    that remains (the two-variable special case of the precision matrix
    — correlation_matrix's conditioned reading).

    Exactness: one lineitem pass → per-order (x, y, z), one aggregate of
    NINE exact decimal power sums, then the whole r-algebra is identical
    IEEE doubles on identical inputs both engines, snapped at 6 dp only
    on output. Scale: two map-side-combined aggregates (order rollup,
    moment rollup) — nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("x"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("y"),
        F.count(F.lit(1)).alias("z"),
    )
    xd = F.col("x").cast("decimal(20,2)")
    yd = F.col("y").cast("decimal(20,2)")
    zd = F.col("z").cast("decimal(20,2)")
    sums = per_order.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(zd).alias("sz"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(zd * zd).alias("szz"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * zd).alias("sxz"),
        F.sum(yd * zd).alias("syz"),
    )
    n = F.col("n").cast("double")

    def dd(c):  # exact decimal → the identical double in both engines
        return F.col(c).cast("double")

    def r(sab, sa, sb, saa, sbb):
        cov = n * dd(sab) - dd(sa) * dd(sb)
        va = n * dd(saa) - dd(sa) * dd(sa)
        vb = n * dd(sbb) - dd(sb) * dd(sb)
        return cov / (F.sqrt(va) * F.sqrt(vb))

    r_xy = r("sxy", "sx", "sy", "sxx", "syy")
    r_xz = r("sxz", "sx", "sz", "sxx", "szz")
    r_yz = r("syz", "sy", "sz", "syy", "szz")
    partial = (r_xy - r_xz * r_yz) / F.sqrt(
        (F.lit(1.0) - r_xz * r_xz) * (F.lit(1.0) - r_yz * r_yz)
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_orders"),
        snap_round(r_xy, 6).alias("r_qty_value"),
        snap_round(r_xz, 6).alias("r_qty_lines"),
        snap_round(r_yz, 6).alias("r_value_lines"),
        snap_round(partial, 6).alias("partial_r"),
    )


PARTIAL_CORRELATION_SQL = """
WITH per_order AS (
    SELECT l_orderkey,
           SUM(CAST(l_quantity AS DECIMAL(12,2))) AS x,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS y,
           COUNT(*) AS z
    FROM lineitem GROUP BY l_orderkey
),
sums AS (
    SELECT COUNT(*) AS n,
           SUM(CAST(x AS DECIMAL(20,2))) AS sx,
           SUM(CAST(y AS DECIMAL(20,2))) AS sy,
           SUM(CAST(z AS DECIMAL(20,2))) AS sz,
           SUM(CAST(x AS DECIMAL(20,2)) * CAST(x AS DECIMAL(20,2))) AS sxx,
           SUM(CAST(y AS DECIMAL(20,2)) * CAST(y AS DECIMAL(20,2))) AS syy,
           SUM(CAST(z AS DECIMAL(20,2)) * CAST(z AS DECIMAL(20,2))) AS szz,
           SUM(CAST(x AS DECIMAL(20,2)) * CAST(y AS DECIMAL(20,2))) AS sxy,
           SUM(CAST(x AS DECIMAL(20,2)) * CAST(z AS DECIMAL(20,2))) AS sxz,
           SUM(CAST(y AS DECIMAL(20,2)) * CAST(z AS DECIMAL(20,2))) AS syz
    FROM per_order
),
rs AS (
    SELECT CAST(n AS BIGINT) AS n_orders,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r_xy,
           (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
           / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * SQRT(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS r_xz,
           (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
           / (SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
              * SQRT(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS r_yz
    FROM sums
)
SELECT n_orders,
       CAST(ROUND(CAST(r_xy AS DECIMAL(28,8)), 6) AS DOUBLE) AS r_qty_value,
       CAST(ROUND(CAST(r_xz AS DECIMAL(28,8)), 6) AS DOUBLE) AS r_qty_lines,
       CAST(ROUND(CAST(r_yz AS DECIMAL(28,8)), 6) AS DOUBLE) AS r_value_lines,
       CAST(ROUND(CAST((r_xy - r_xz * r_yz)
                       / SQRT((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS partial_r
FROM rs
"""


def q_rr_frequency_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomized-response frequency estimation (Warner 1965, forced-
    response form) — the LOCAL-differential-privacy member of the privacy
    family: dp_noisy_counts adds central Laplace noise AFTER trusted
    aggregation; RR perturbs at the USER before anything is collected
    (each user reports the truth with prob p = 0.75, else a fair coin),
    and the aggregator debiases π̂ = (λ̂ − (1−p)/2) / p. The sensitive bit
    here: 'is this user a heavy buyer' (≥ 14 purchases — the fixture's
    per-user mean, so the true rate sits mid-range and the gate exercises
    both branches of the bit). Because this engine's randomness
    is CONTENT-KEYED md5 (the importance_resampling discipline — no RNG
    state at 100 TB), the whole mechanism is reproducible and the
    estimator itself is hash-checked; the true rate is reported alongside
    so the oracle certifies the DEBIAS recovers it (|error| shrinks as
    1/√n — visible as ~2pp at sf0.01). ε = ln((p + (1−p)/2)/((1−p)/2)) =
    ln 7 ≈ 1.95 per report.

    Scale: one user rollup (true bit), two md5 scalars per user, one
    global conditional aggregate — nothing beyond the scan and a
    user-keyed exchange."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 14, 1
        ).otherwise(0).alias("b")
    )

    def u(tag):
        h = char_hash32(F.concat(F.lit(tag), F.col("user_id").cast("string")))
        return (h.cast("double") + 0.5) / F.lit(4294967296.0)

    reported = per_user.select(
        "b",
        F.when(u("rr-truth-") < 0.75, F.col("b"))
        .otherwise(F.when(u("rr-coin-") < 0.5, 1).otherwise(0))
        .alias("report"),
    )
    agg = reported.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("b").cast("long").alias("n_true"),
        F.sum("report").cast("long").alias("n_reported"),
    )
    lam = F.col("n_reported").cast("double") / F.col("n_users").cast("double")
    pi_hat = (lam - 0.125) / 0.75
    true_rate = F.col("n_true").cast("double") / F.col("n_users").cast("double")
    return agg.select(
        "n_users",
        snap_round(true_rate, 6).alias("true_rate"),
        snap_round(lam, 6).alias("observed_rate"),
        snap_round(pi_hat, 6).alias("estimated_rate"),
        snap_round(F.abs(pi_hat - true_rate), 6).alias("abs_error"),
    )


RR_FREQUENCY_ESTIMATE_SQL = """
WITH per_user AS (
    SELECT user_id,
           CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                THEN 1 ELSE 0 END AS b
    FROM events GROUP BY user_id
),
reported AS (
    SELECT b,
           CASE WHEN (CAST(CAST(concat('0x', substr(md5(concat('rr-truth-', CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 < 0.75
                THEN b
                ELSE CASE WHEN (CAST(CAST(concat('0x', substr(md5(concat('rr-coin-', CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 < 0.5
                          THEN 1 ELSE 0 END
           END AS report
    FROM per_user
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(b) AS BIGINT) AS n_true,
           CAST(SUM(report) AS BIGINT) AS n_reported
    FROM reported
)
SELECT n_users,
       CAST(ROUND(CAST(CAST(n_true AS DOUBLE) / CAST(n_users AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE) AS true_rate,
       CAST(ROUND(CAST(CAST(n_reported AS DOUBLE) / CAST(n_users AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE) AS observed_rate,
       CAST(ROUND(CAST((CAST(n_reported AS DOUBLE) / CAST(n_users AS DOUBLE) - 0.125) / 0.75 AS DECIMAL(28,8)), 6) AS DOUBLE) AS estimated_rate,
       CAST(ROUND(CAST(ABS((CAST(n_reported AS DOUBLE) / CAST(n_users AS DOUBLE) - 0.125) / 0.75
                           - CAST(n_true AS DOUBLE) / CAST(n_users AS DOUBLE))
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS abs_error
FROM agg
"""


def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on lineitem extended price — the
    moments-based gate (JB = n/6·(S² + K²/4), χ²₂ under H₀) that decides
    whether the z-score machinery (zscore_outliers, ab_ztest's CLT
    appeal) is even applicable to a column. Retail price is famously
    right-skewed; the test quantifies by HOW much (the skew/kurtosis
    numbers are the diagnosis, the flag is the verdict).

    Exactness: raw power sums Σx..Σx⁴ as exact decimals in ONE pass (the
    stats_moments discipline extended to fourth order), central moments
    via the identical IEEE expansion both engines, two 6-dp snaps on the
    shape numbers and one 4-dp snap on JB."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast("decimal(12,2)")
    x2 = (x * x).cast("decimal(30,4)")
    sums = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum((x2 * x).cast("decimal(38,6)")).alias("s3"),
        F.sum((x2 * x2).cast("decimal(38,8)")).alias("s4"),
    )
    n = F.col("n").cast("double")
    m = F.col("s1").cast("double") / n
    # central moments from raw sums — identical IEEE chains both engines
    m2 = F.col("s2").cast("double") / n - m * m
    m3 = F.col("s3").cast("double") / n - 3.0 * m * (F.col("s2").cast("double") / n) + 2.0 * m * m * m
    m4 = (
        F.col("s4").cast("double") / n
        - 4.0 * m * (F.col("s3").cast("double") / n)
        + 6.0 * m * m * (F.col("s2").cast("double") / n)
        - 3.0 * m * m * m * m
    )
    skew = snap_round(m3 / F.sqrt(m2 * m2 * m2), 6)
    kurt = snap_round(m4 / (m2 * m2) - 3.0, 6)
    jb = snap_round(n / 6.0 * (skew * skew + kurt * kurt / 4.0), 4)
    return sums.select(
        F.col("n").cast("bigint").alias("n_rows"),
        skew.alias("skewness"),
        kurt.alias("kurtosis_excess"),
        jb.alias("jb_stat"),
        (jb <= 5.99).alias("looks_normal"),  # χ²₂ at 5%
    )


JARQUE_BERA_SQL = """
WITH sums AS (
    SELECT COUNT(*) AS n,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS s1,
           SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(30,4))) AS s2,
           SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(30,4))
                    * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(38,6))) AS s3,
           SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(30,4))
                    * CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                           * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(30,4))
                    AS DECIMAL(38,8))) AS s4
    FROM lineitem
),
mom AS (
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(ROUND(CAST(
             (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
              - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
              + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
             / SQRT((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
             AS DECIMAL(28,8)), 6) AS DOUBLE) AS skewness,
           CAST(ROUND(CAST(
             (CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
              - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
              + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
              - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
             / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))) - 3.0
             AS DECIMAL(28,8)), 6) AS DOUBLE) AS kurtosis_excess,
           CAST(n AS DOUBLE) AS nd
    FROM sums
)
SELECT n_rows, skewness, kurtosis_excess,
       CAST(ROUND(CAST(nd / 6.0 * (skewness * skewness + kurtosis_excess * kurtosis_excess / 4.0)
                       AS DECIMAL(28,8)), 4) AS DOUBLE) AS jb_stat,
       CAST(ROUND(CAST(nd / 6.0 * (skewness * skewness + kurtosis_excess * kurtosis_excess / 4.0)
                       AS DECIMAL(28,8)), 4) AS DOUBLE) <= 5.99 AS looks_normal
FROM mom
"""


def q_evalue_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-value sensitivity analysis (VanderWeele & Ding 2017) for the
    observed discount→return risk ratio: the MINIMUM strength of
    unmeasured confounding (on the risk-ratio scale, with both exposure
    and outcome) needed to explain the association away — the robustness
    number the observational causal family (ips_ate / aipw_ate /
    propensity_overlap) should publish next to every estimate.
    E = RR* + √(RR*·(RR*−1)) with RR* = max(RR, 1/RR).

    One conditional aggregate over lineitem (exposed = discount > 0.05),
    exact counts, three snapped scalars."""
    li = load_table(spark, sf_dir, "lineitem")
    exposed = (F.col("l_discount").cast("decimal(12,2)") > 0.05).cast("int")
    ret = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    agg = li.agg(
        F.sum(exposed * ret).cast("long").alias("e_ret"),
        F.sum(exposed).cast("long").alias("e_n"),
        F.sum((1 - exposed) * ret).cast("long").alias("u_ret"),
        F.sum(1 - exposed).cast("long").alias("u_n"),
    )
    p1 = F.col("e_ret").cast("double") / F.col("e_n").cast("double")
    p0 = F.col("u_ret").cast("double") / F.col("u_n").cast("double")
    rr = snap_round(p1 / p0, 6)
    rr_star = F.greatest(rr, snap_round(F.lit(1.0) / rr, 6))
    ev = snap_round(rr_star + F.sqrt(rr_star * (rr_star - 1.0)), 6)
    return agg.select(
        F.col("e_n").alias("n_exposed"),
        F.col("u_n").alias("n_unexposed"),
        snap_round(p1, 6).alias("risk_exposed"),
        snap_round(p0, 6).alias("risk_unexposed"),
        rr.alias("risk_ratio"),
        ev.alias("e_value"),
    )


EVALUE_SENSITIVITY_SQL = """
WITH agg AS (
    SELECT CAST(SUM(CASE WHEN CAST(l_discount AS DECIMAL(12,2)) > 0.05
                          AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS e_ret,
           CAST(SUM(CASE WHEN CAST(l_discount AS DECIMAL(12,2)) > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS e_n,
           CAST(SUM(CASE WHEN CAST(l_discount AS DECIMAL(12,2)) <= 0.05
                          AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS u_ret,
           CAST(SUM(CASE WHEN CAST(l_discount AS DECIMAL(12,2)) <= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS u_n
    FROM lineitem
),
rates AS (
    SELECT e_n AS n_exposed, u_n AS n_unexposed,
           CAST(ROUND(CAST(CAST(e_ret AS DOUBLE) / CAST(e_n AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE) AS risk_exposed,
           CAST(ROUND(CAST(CAST(u_ret AS DOUBLE) / CAST(u_n AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE) AS risk_unexposed,
           CAST(ROUND(CAST((CAST(e_ret AS DOUBLE) / CAST(e_n AS DOUBLE))
                           / (CAST(u_ret AS DOUBLE) / CAST(u_n AS DOUBLE))
                           AS DECIMAL(28,8)), 6) AS DOUBLE) AS risk_ratio
    FROM agg
),
star AS (
    SELECT *,
           GREATEST(risk_ratio,
                    CAST(ROUND(CAST(1.0 / risk_ratio AS DECIMAL(28,8)), 6) AS DOUBLE)) AS rr_star
    FROM rates
)
SELECT n_exposed, n_unexposed, risk_exposed, risk_unexposed, risk_ratio,
       CAST(ROUND(CAST(rr_star + SQRT(rr_star * (rr_star - 1.0))
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS e_value
FROM star
"""


#: row→column IPF rounds of q_raking_weights and its unrolled oracle
RAKING_ROUNDS = 3


def q_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey raking / iterative proportional fitting: per-cell weights
    that calibrate the (market segment × balance bucket) sample to
    UNIFORM target margins on both axes — the weighting estimator the
    causal family (ips_ate) and dataset mix family (mix_weights) both
    border on: IPF is matrix scaling toward fixed margins (Sinkhorn).
    Three full row→column rounds, unrolled in the oracle (the set-cover/
    markov precedent); IPF converges geometrically, and the 3-round
    DEVIATION from the target margin is itself reported, so the gate
    shows how far scaling got rather than pretending a fixpoint.

    Exactness: weights live as DECIMAL(20,10) between half-steps; each
    margin mass Σ n·w is an exact decimal window sum over the ≤15-cell
    relation, and every rescale w·target/mass is the identical IEEE
    expression snapped back to decimal. Scale: ONE customer scan into the
    cell aggregate; everything after is ≤|segments|·|buckets| rows."""
    c = load_table(spark, sf_dir, "customer")
    bkt = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    cells = c.groupBy(
        F.col("c_mktsegment").alias("seg"), bkt.alias("bkt")
    ).agg(F.count(F.lit(1)).alias("n"))
    nseg = Window.partitionBy("seg")
    nbkt = Window.partitionBy("bkt")
    whole = Window.partitionBy()
    cells = cells.withColumn("w", F.lit(1.0).cast("decimal(20,10)"))
    n_tot = F.sum("n").over(whole).cast("double")
    k_seg = F.size(F.collect_set("seg").over(whole)).cast("double")
    k_bkt = F.size(F.collect_set("bkt").over(whole)).cast("double")
    for _ in range(RAKING_ROUNDS):
        row_mass = F.sum(F.col("n").cast("decimal(20,2)") * F.col("w")).over(nseg)
        cells = cells.withColumn(
            "w",
            F.round(
                (
                    F.col("w").cast("double")
                    * (n_tot / k_seg)
                    / row_mass.cast("double")
                ).cast("decimal(20,10)"),
                10,
            ),
        )
        col_mass = F.sum(F.col("n").cast("decimal(20,2)") * F.col("w")).over(nbkt)
        cells = cells.withColumn(
            "w",
            F.round(
                (
                    F.col("w").cast("double")
                    * (n_tot / k_bkt)
                    / col_mass.cast("double")
                ).cast("decimal(20,10)"),
                10,
            ),
        )
    final_row_share = F.sum(F.col("n").cast("decimal(20,2)") * F.col("w")).over(
        nseg
    ).cast("double") / n_tot
    return cells.select(
        "seg",
        "bkt",
        F.col("n").cast("long").alias("n"),
        snap_round(F.col("w").cast("double"), 6).alias("weight"),
        snap_round(final_row_share, 6).alias("seg_share_after"),
    ).orderBy("seg", "bkt")


def _raking_sql() -> str:
    parts = [
        """cells AS (
    SELECT c_mktsegment AS seg,
           CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS bkt,
           COUNT(*) AS n
    FROM customer GROUP BY 1, 2
)""",
        """k AS (
    SELECT CAST(SUM(n) AS DOUBLE) AS n_tot,
           CAST(COUNT(DISTINCT seg) AS DOUBLE) AS k_seg,
           CAST(COUNT(DISTINCT bkt) AS DOUBLE) AS k_bkt
    FROM cells
)""",
        """w0 AS (SELECT seg, bkt, n, CAST(1.0 AS DECIMAL(20,10)) AS w FROM cells)""",
    ]
    prev = "w0"
    for r in range(1, RAKING_ROUNDS + 1):
        parts.append(
            f"""wr{r} AS (
    SELECT seg, bkt, n,
           CAST(ROUND(CAST(
               CAST(w AS DOUBLE) * (k.n_tot / k.k_seg)
               / CAST(SUM(CAST(n AS DECIMAL(20,2)) * w)
                      OVER (PARTITION BY seg) AS DOUBLE)
               AS DECIMAL(20,10)), 10) AS DECIMAL(20,10)) AS w
    FROM {prev} CROSS JOIN k
)"""
        )
        parts.append(
            f"""wc{r} AS (
    SELECT seg, bkt, n,
           CAST(ROUND(CAST(
               CAST(w AS DOUBLE) * (k.n_tot / k.k_bkt)
               / CAST(SUM(CAST(n AS DECIMAL(20,2)) * w)
                      OVER (PARTITION BY bkt) AS DOUBLE)
               AS DECIMAL(20,10)), 10) AS DECIMAL(20,10)) AS w
    FROM wr{r} CROSS JOIN k
)"""
        )
        prev = f"wc{r}"
    return f"""
WITH {','.join(parts)}
SELECT seg, bkt, CAST(n AS BIGINT) AS n,
       CAST(ROUND(CAST(CAST(w AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE) AS weight,
       CAST(ROUND(CAST(
           CAST(SUM(CAST(n AS DECIMAL(20,2)) * w) OVER (PARTITION BY seg) AS DOUBLE)
           / k.n_tot
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS seg_share_after
FROM {prev} CROSS JOIN k
ORDER BY seg, bkt
"""


RAKING_WEIGHTS_SQL = _raking_sql()


def q_negative_binomial_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments negative-binomial fit of per-day event counts,
    per type — the MODEL the overdispersion gate (q_overdispersion_check)
    says you need when s² > x̄: r = x̄²/(s² − x̄), p = x̄/s², the standard
    MoM estimators. Near-Poisson types (s² ≤ x̄, where NB degenerates)
    report NULL r/p with poisson_like = true — the honest branch, not a
    clamped fake fit. A capacity planner consumes (r, p) directly for
    tail quantiles of tomorrow's load.

    Exactness: per-(type, day) counts are integers; per-type Σc and Σc²
    are exact decimals from the calendar-bounded daily relation; x̄, s²
    (population form, matching overdispersion_check) and the two
    estimators are identical IEEE, snapped at 6 dp."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cd = F.col("c").cast("decimal(20,2)")
    per = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(cd).alias("sc"),
        F.sum(cd * cd).alias("scc"),
    )
    n = F.col("n_days").cast("double")
    mean = F.col("sc").cast("double") / n
    var = F.col("scc").cast("double") / n - mean * mean
    over = var > mean
    r = F.when(over, snap_round(mean * mean / (var - mean), 6))
    p = F.when(over, snap_round(mean / var, 6))
    return per.select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        snap_round(mean, 6).alias("mean_daily"),
        snap_round(var, 6).alias("var_daily"),
        r.alias("nb_r"),
        p.alias("nb_p"),
        (~over).alias("poisson_like"),
    ).orderBy("event_type")


NEGATIVE_BINOMIAL_FIT_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
    FROM events GROUP BY 1, 2
),
per AS (
    SELECT event_type,
           COUNT(*) AS n_days,
           SUM(CAST(c AS DECIMAL(20,2))) AS sc,
           SUM(CAST(c AS DECIMAL(20,2)) * CAST(c AS DECIMAL(20,2))) AS scc
    FROM daily GROUP BY event_type
),
mom AS (
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_d,
           CAST(scc AS DOUBLE) / CAST(n_days AS DOUBLE)
             - (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
               * (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE)) AS var_d
    FROM per
)
SELECT event_type, n_days,
       CAST(ROUND(CAST(mean_d AS DECIMAL(28,8)), 6) AS DOUBLE) AS mean_daily,
       CAST(ROUND(CAST(var_d AS DECIMAL(28,8)), 6) AS DOUBLE) AS var_daily,
       CASE WHEN var_d > mean_d THEN
           CAST(ROUND(CAST(mean_d * mean_d / (var_d - mean_d) AS DECIMAL(28,8)), 6) AS DOUBLE)
       END AS nb_r,
       CASE WHEN var_d > mean_d THEN
           CAST(ROUND(CAST(mean_d / var_d AS DECIMAL(28,8)), 6) AS DOUBLE)
       END AS nb_p,
       NOT (var_d > mean_d) AS poisson_like
FROM mom
ORDER BY event_type
"""


def q_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — the within-subject
    counterpart of the two-proportion z-test (which assumes independent
    samples and is simply wrong on before/after or A-vs-B-same-user
    designs). Pairs are user-days; the two binary outcomes are "clicked
    that day" and "purchased that day". Only the DISCORDANT cells carry
    information: b = click-only days, c = purchase-only days, and the
    continuity-corrected statistic (|b−c|−1)²/(b+c) ~ χ²(1).

    Everything is integer until the single final division: the pair grain
    is one boolean-max aggregate on (user_id, day), the 2×2 cells are four
    conditional counts of that relation, and the χ² assembles from exact
    int64 in one fixed-order double expression (snapped at 6 dp). The
    b + c = 0 degenerate (no discordant pairs) takes an honest NULL, not
    a fake 0 — the test is undefined there, and both engines share the
    integer branch predicate.

    Scale: one keyed exchange on (user_id, day) — partial bool-max
    combines map-side — then a 4-cell global aggregate. Nothing holistic,
    nothing driver-side."""
    e = load_table(spark, sf_dir, "events")
    pairs = (
        e.select(
            "user_id",
            F.to_date("ts").alias("day"),
            (F.col("event_type") == "click").alias("is_click"),
            (F.col("event_type") == "purchase").alias("is_buy"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.max("is_click").alias("clicked"),
            F.max("is_buy").alias("bought"),
        )
    )
    cells = pairs.agg(
        F.sum(F.when(F.col("clicked") & F.col("bought"), 1).otherwise(0))
        .cast("long")
        .alias("both_yes"),
        F.sum(F.when(F.col("clicked") & ~F.col("bought"), 1).otherwise(0))
        .cast("long")
        .alias("click_only"),
        F.sum(F.when(~F.col("clicked") & F.col("bought"), 1).otherwise(0))
        .cast("long")
        .alias("buy_only"),
        F.sum(F.when(~F.col("clicked") & ~F.col("bought"), 1).otherwise(0))
        .cast("long")
        .alias("both_no"),
    )
    b, c = F.col("click_only"), F.col("buy_only")
    num = (F.abs(b - c) - 1) * (F.abs(b - c) - 1)
    chi2 = F.when(
        b + c > 0, snap_round(num.cast("double") / (b + c).cast("double"), 6)
    )
    return cells.select(
        "both_yes",
        "click_only",
        "buy_only",
        "both_no",
        chi2.alias("chi2_cc"),
        F.when(b + c > 0, chi2 > 3.841).alias("significant"),
    )


MCNEMAR_TEST_SQL = """
WITH pairs AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) = 1 AS clicked,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1 AS bought
    FROM events GROUP BY 1, 2
),
cells AS (
    SELECT
      CAST(SUM(CASE WHEN clicked AND bought THEN 1 ELSE 0 END) AS BIGINT) AS both_yes,
      CAST(SUM(CASE WHEN clicked AND NOT bought THEN 1 ELSE 0 END) AS BIGINT) AS click_only,
      CAST(SUM(CASE WHEN NOT clicked AND bought THEN 1 ELSE 0 END) AS BIGINT) AS buy_only,
      CAST(SUM(CASE WHEN NOT clicked AND NOT bought THEN 1 ELSE 0 END) AS BIGINT) AS both_no
    FROM pairs
)
SELECT both_yes, click_only, buy_only, both_no,
       CASE WHEN click_only + buy_only > 0 THEN
         CAST(ROUND(CAST(
             CAST((ABS(click_only - buy_only) - 1)
                  * (ABS(click_only - buy_only) - 1) AS DOUBLE)
             / CAST(click_only + buy_only AS DOUBLE)
             AS DECIMAL(28,8)), 6) AS DOUBLE)
       END AS chi2_cc,
       CASE WHEN click_only + buy_only > 0 THEN
         CAST(ROUND(CAST(
             CAST((ABS(click_only - buy_only) - 1)
                  * (ABS(click_only - buy_only) - 1) AS DOUBLE)
             / CAST(click_only + buy_only AS DOUBLE)
             AS DECIMAL(28,8)), 6) AS DOUBLE) > 3.841
       END AS significant
FROM cells
"""


def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test — the PAIRED nonparametric test beside
    Mann-Whitney's unpaired one (q_mann_whitney): did per-customer average
    order value shift between the calendar halves (split 1998-01-01),
    using each customer as their own control? No normality assumption;
    heavy-tailed spend is exactly where the paired t-test misleads.

    Determinism: each half's mean is ONE IEEE divide of an exact decimal
    sum by a count, the difference snaps at 9 dp (so both engines agree
    on zero-drop and tie grouping), and ranks use the DOUBLED-midrank
    trick over the per-|d|-value aggregate (r2 = 2·|{<v}| + n(v) + 1 —
    exact int64, the q_mann_whitney discipline), so 2·W⁺ = Σ pos(v)·r2
    is exact integer algebra. Tie correction Σ(t³−t) runs in
    DECIMAL(38,0). z assembles in one fixed-order double expression and
    snaps at 6 dp.

    Scale: the rank window runs over the per-|d|-VALUE relation — at most
    one row per distinct snapped difference, already aggregated from the
    ≤|customers| paired relation; the customer aggregate itself is one
    keyed exchange with map-side partials. (The full-resolution global
    sort a naive rank implementation needs never happens.)"""
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("date")
    per_c = (
        o.select(
            "o_custkey",
            F.to_date("o_orderdate").alias("d"),
            F.col("o_totalprice").cast("decimal(12,2)").alias("p"),
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.col("d") < cut, F.col("p"))).alias("s1"),
            F.count(F.when(F.col("d") < cut, 1)).alias("n1"),
            F.sum(F.when(F.col("d") >= cut, F.col("p"))).alias("s2"),
            F.count(F.when(F.col("d") >= cut, 1)).alias("n2"),
        )
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
    )
    d = snap_round(
        F.col("s2").cast("double") / F.col("n2").cast("double")
        - F.col("s1").cast("double") / F.col("n1").cast("double"),
        9,
    )
    diffs = per_c.select(d.alias("d")).filter(F.col("d") != 0.0)
    per_v = diffs.groupBy(F.abs(F.col("d")).alias("av")).agg(
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias("pos_v"),
        F.count(F.lit(1)).cast("long").alias("n_v"),
    )
    w = Window.orderBy("av").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.select(
        "pos_v",
        "n_v",
        (2 * F.coalesce(F.sum("n_v").over(w), F.lit(0)) + F.col("n_v") + 1).alias(
            "r2"
        ),
    )
    sums = ranked.agg(
        F.sum("n_v").cast("long").alias("n"),
        F.sum(F.col("pos_v") * F.col("r2")).cast("long").alias("w2"),
        F.sum(
            F.col("n_v").cast("decimal(38,0)")
            * F.col("n_v").cast("decimal(38,0)")
            * F.col("n_v").cast("decimal(38,0)")
            - F.col("n_v").cast("decimal(38,0)")
        ).alias("t_sum"),
    )
    nd = F.col("n").cast("double")
    w_plus = F.col("w2").cast("double") / 2.0
    mu = nd * (nd + 1.0) / 4.0
    var = nd * (nd + 1.0) * (2.0 * nd + 1.0) / 24.0 - F.col(
        "t_sum"
    ).cast("double") / 48.0
    z = (w_plus - mu) / F.sqrt(var)
    return sums.select(
        F.col("n").alias("n_pairs"),
        w_plus.alias("w_plus"),
        snap_round(z, 6).alias("z"),
        (F.abs(snap_round(z, 6)) > 1.96).alias("significant"),
    )


WILCOXON_SIGNED_RANK_SQL = """
WITH per_c AS (
    SELECT o_custkey,
           SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                    THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS s1,
           COUNT(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                      THEN 1 END) AS n1,
           SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
                    THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS s2,
           COUNT(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
                      THEN 1 END) AS n2
    FROM orders GROUP BY 1
),
diffs AS (
    SELECT CAST(ROUND(CAST(
               CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               AS DECIMAL(28,8)), 9) AS DOUBLE) AS d
    FROM per_c WHERE n1 > 0 AND n2 > 0
),
per_v AS (
    SELECT ABS(d) AS av,
           CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos_v,
           CAST(COUNT(*) AS BIGINT) AS n_v
    FROM diffs WHERE d <> 0.0
    GROUP BY 1
),
ranked AS (
    SELECT pos_v, n_v,
           2 * COALESCE(SUM(n_v) OVER
               (ORDER BY av ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + n_v + 1 AS r2
    FROM per_v
),
sums AS (
    SELECT CAST(SUM(n_v) AS BIGINT) AS n,
           CAST(SUM(pos_v * r2) AS BIGINT) AS w2,
           SUM(CAST(n_v AS DECIMAL(38,0)) * CAST(n_v AS DECIMAL(38,0))
               * CAST(n_v AS DECIMAL(38,0)) - CAST(n_v AS DECIMAL(38,0))) AS t_sum
    FROM ranked
)
SELECT n AS n_pairs,
       CAST(w2 AS DOUBLE) / 2.0 AS w_plus,
       CAST(ROUND(CAST(
           (CAST(w2 AS DOUBLE) / 2.0
            - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
           / SQRT(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                  * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
                  - CAST(t_sum AS DOUBLE) / 48.0)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS z,
       ABS(CAST(ROUND(CAST(
           (CAST(w2 AS DOUBLE) / 2.0
            - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
           / SQRT(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                  * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
                  - CAST(t_sum AS DOUBLE) / 48.0)
           AS DECIMAL(28,8)), 6) AS DOUBLE)) > 1.96 AS significant
FROM sums
"""


def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha — internal-consistency reliability of a k-item
    scale, here treating the five event types as items scored by per-user
    activity counts: do the per-type engagement counts move together
    (one underlying "engagement" trait) or independently? The metric
    gates composite-score construction the same way it gates survey
    scales: α = k/(k−1) · (1 − Σᵢ var(itemᵢ) / var(total)).

    Everything before the final expression is exact: item scores are
    int64 conditional counts on the single (user) aggregate, variances
    come from exact decimal power sums (population form, n divisor —
    both engines share the convention), and α assembles in one
    fixed-order double expression snapped at 6 dp.

    Scale: ONE keyed exchange on user_id (conditional-count partials
    combine map-side), then a global aggregate of k+1 power sums over
    the ≤|users| relation. The item list is a fixed schema constant —
    no pivot-discovery job."""
    types = ["click", "error", "purchase", "signup", "view"]
    e = load_table(spark, sf_dir, "events")
    per_u = e.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"c_{t}")
            for t in types
        ]
    )
    total = functools_reduce_add([F.col(f"c_{t}") for t in types]).alias("tot")
    scored = per_u.select("user_id", *[f"c_{t}" for t in types], total)

    def pow_sums(col: str) -> list:
        c = F.col(col).cast("decimal(38,0)")
        return [
            F.sum(c).alias(f"s_{col}"),
            F.sum(c * c).alias(f"ss_{col}"),
        ]

    aggs = [F.count(F.lit(1)).cast("long").alias("n_users")]
    for t in types:
        aggs.extend(pow_sums(f"c_{t}"))
    aggs.extend(pow_sums("tot"))
    sums = scored.agg(*aggs)

    nd = F.col("n_users").cast("double")

    def var_of(col: str):
        s = F.col(f"s_{col}").cast("double")
        ss = F.col(f"ss_{col}").cast("double")
        return ss / nd - (s / nd) * (s / nd)

    item_var_sum = functools_reduce_add([var_of(f"c_{t}") for t in types])
    k = float(len(types))
    alpha = (k / (k - 1.0)) * (1.0 - item_var_sum / var_of("tot"))
    return sums.select(
        F.lit(len(types)).alias("k_items"),
        F.col("n_users"),
        snap_round(item_var_sum, 6).alias("sum_item_var"),
        snap_round(var_of("tot"), 6).alias("total_var"),
        snap_round(alpha, 6).alias("cronbach_alpha"),
    )


def functools_reduce_add(cols):
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


_CRONBACH_ITEMS = ["click", "error", "purchase", "signup", "view"]
_CRONBACH_CNT = ",\n           ".join(
    f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS c_{t}"
    for t in _CRONBACH_ITEMS
)
_CRONBACH_PS = ",\n           ".join(
    f"SUM(CAST(c_{t} AS DECIMAL(38,0))) AS s_c_{t},\n           "
    f"SUM(CAST(c_{t} AS DECIMAL(38,0)) * CAST(c_{t} AS DECIMAL(38,0))) AS ss_c_{t}"
    for t in _CRONBACH_ITEMS
)
_CRONBACH_VAR = " + ".join(
    f"(CAST(ss_c_{t} AS DOUBLE) / CAST(n_users AS DOUBLE)"
    f" - (CAST(s_c_{t} AS DOUBLE) / CAST(n_users AS DOUBLE))"
    f" * (CAST(s_c_{t} AS DOUBLE) / CAST(n_users AS DOUBLE)))"
    for t in _CRONBACH_ITEMS
)
_CRONBACH_TOT = " + ".join(f"c_{t}" for t in _CRONBACH_ITEMS)

CRONBACH_ALPHA_SQL = f"""
WITH per_u AS (
    SELECT user_id,
           {_CRONBACH_CNT}
    FROM events GROUP BY 1
),
scored AS (
    SELECT *, {_CRONBACH_TOT} AS tot FROM per_u
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           {_CRONBACH_PS},
           SUM(CAST(tot AS DECIMAL(38,0))) AS s_tot,
           SUM(CAST(tot AS DECIMAL(38,0)) * CAST(tot AS DECIMAL(38,0))) AS ss_tot
    FROM scored
)
SELECT 5 AS k_items, n_users,
       CAST(ROUND(CAST({_CRONBACH_VAR} AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS sum_item_var,
       CAST(ROUND(CAST(
           CAST(ss_tot AS DOUBLE) / CAST(n_users AS DOUBLE)
           - (CAST(s_tot AS DOUBLE) / CAST(n_users AS DOUBLE))
             * (CAST(s_tot AS DOUBLE) / CAST(n_users AS DOUBLE))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS total_var,
       CAST(ROUND(CAST(
           (5.0 / 4.0) * (1.0 - ({_CRONBACH_VAR})
               / (CAST(ss_tot AS DOUBLE) / CAST(n_users AS DOUBLE)
                  - (CAST(s_tot AS DOUBLE) / CAST(n_users AS DOUBLE))
                    * (CAST(s_tot AS DOUBLE) / CAST(n_users AS DOUBLE))))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS cronbach_alpha
FROM sums
"""


def q_matching_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor covariate-matching ATT — the third member of the
    observational-causal family beside inverse-propensity (q_ipw_ate) and
    doubly-robust (q_aipw_ate): instead of reweighting, each TREATED unit
    (customer with ≥1 URGENT order) is paired with the nearest CONTROL on
    the account-balance covariate within the same nation block, and the
    effect is the mean treated-minus-matched-control spend gap.

    The nearest-neighbor search is NOT a cross join: one window pass over
    the (nation, acctbal, custkey)-ordered per-customer relation carries
    the last-control-before and first-control-after each treated row
    (IGNORE NULLS frames), and the nearer of the two wins — ties on exact
    decimal distance break toward the earlier neighbor, a rule both
    engines state identically. Outcomes and distances stay exact decimals
    until the single snapped division.

    Scale: one keyed exchange builds the per-customer aggregate, one
    range-ordered window per nation block matches every treated unit in
    a single pass — the O(T·C) per-block scan a naive matcher pays never
    materializes. With-replacement matching (a control may serve many
    treated) is the standard Abadie-Imbens form."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("spend"),
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("treated"),
        )
        .join(
            c.select(
                F.col("c_custkey").alias("o_custkey"),
                "c_nationkey",
                F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
            ),
            "o_custkey",
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy("bal", "o_custkey")
    ctrl = F.when(F.col("treated") == 0, F.struct("bal", "spend"))
    m = per.select(
        "o_custkey",
        "c_nationkey",
        "bal",
        "spend",
        "treated",
        F.last(ctrl, ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("prev"),
        F.first(ctrl, ignorenulls=True)
        .over(w.rowsBetween(1, Window.unboundedFollowing))
        .alias("nxt"),
    ).filter(F.col("treated") == 1)
    dp = F.abs(F.col("bal") - F.col("prev.bal"))
    dn = F.abs(F.col("bal") - F.col("nxt.bal"))
    matched = m.select(
        "o_custkey",
        "spend",
        F.when(F.col("nxt").isNull(), F.col("prev.spend"))
        .when(F.col("prev").isNull(), F.col("nxt.spend"))
        .when(dp <= dn, F.col("prev.spend"))
        .otherwise(F.col("nxt.spend"))
        .alias("ctrl_spend"),
        F.when(F.col("nxt").isNull(), dp)
        .when(F.col("prev").isNull(), dn)
        .otherwise(F.least(dp, dn))
        .alias("gap"),
    ).filter(F.col("ctrl_spend").isNotNull())
    agg = matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.sum(F.col("spend") - F.col("ctrl_spend")).alias("sdiff"),
        F.sum("spend").alias("st"),
        F.sum("ctrl_spend").alias("sc"),
        F.sum("gap").alias("sgap"),
    )
    nd = F.col("n_matched").cast("double")
    return agg.select(
        "n_matched",
        snap_round(F.col("sdiff").cast("double") / nd, 4).alias("att"),
        snap_round(F.col("st").cast("double") / nd, 4).alias("mean_treated"),
        snap_round(F.col("sc").cast("double") / nd, 4).alias("mean_matched_ctrl"),
        snap_round(F.col("sgap").cast("double") / nd, 4).alias("mean_covariate_gap"),
    )


MATCHING_ATT_SQL = """
WITH per AS (
    SELECT o.o_custkey,
           SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS spend,
           MAX(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
               AS treated,
           ANY_VALUE(c.c_nationkey) AS c_nationkey,
           ANY_VALUE(CAST(c.c_acctbal AS DECIMAL(12,2))) AS bal
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_custkey
),
m AS (
    SELECT o_custkey, bal, spend, treated,
           LAST_VALUE(CASE WHEN treated = 0 THEN bal END IGNORE NULLS) OVER
             (PARTITION BY c_nationkey ORDER BY bal, o_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_bal,
           LAST_VALUE(CASE WHEN treated = 0 THEN spend END IGNORE NULLS) OVER
             (PARTITION BY c_nationkey ORDER BY bal, o_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_spend,
           FIRST_VALUE(CASE WHEN treated = 0 THEN bal END IGNORE NULLS) OVER
             (PARTITION BY c_nationkey ORDER BY bal, o_custkey
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt_bal,
           FIRST_VALUE(CASE WHEN treated = 0 THEN spend END IGNORE NULLS) OVER
             (PARTITION BY c_nationkey ORDER BY bal, o_custkey
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt_spend
    FROM per
),
matched AS (
    SELECT o_custkey, spend,
           CASE WHEN nxt_bal IS NULL THEN prev_spend
                WHEN prev_bal IS NULL THEN nxt_spend
                WHEN ABS(bal - prev_bal) <= ABS(bal - nxt_bal) THEN prev_spend
                ELSE nxt_spend END AS ctrl_spend,
           CASE WHEN nxt_bal IS NULL THEN ABS(bal - prev_bal)
                WHEN prev_bal IS NULL THEN ABS(bal - nxt_bal)
                ELSE LEAST(ABS(bal - prev_bal), ABS(bal - nxt_bal)) END AS gap
    FROM m WHERE treated = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
       CAST(ROUND(CAST(CAST(SUM(spend - ctrl_spend) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,8)), 4) AS DOUBLE) AS att,
       CAST(ROUND(CAST(CAST(SUM(spend) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,8)), 4) AS DOUBLE)
           AS mean_treated,
       CAST(ROUND(CAST(CAST(SUM(ctrl_spend) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,8)), 4) AS DOUBLE)
           AS mean_matched_ctrl,
       CAST(ROUND(CAST(CAST(SUM(gap) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,8)), 4) AS DOUBLE)
           AS mean_covariate_gap
FROM matched WHERE ctrl_spend IS NOT NULL
"""


def q_fisher_exact_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's EXACT test on the urgent × high-value 2×2 (is an URGENT
    order more likely to be a >$300k order?) — the exact-inference member
    of the association family: χ²/G-test are asymptotic and break on
    sparse cells; Fisher sums the hypergeometric tail itself, two-sided
    by the standard "all tables at most as probable as the observed one"
    rule.

    The classically-driver-side factorials become RELATIONAL: a
    log-factorial LADDER lf(i) = Σ_{j≤i} ln j is one cumulative window
    over range(0, n], with each ln snapped to DECIMAL(18,8) so the ladder
    — and therefore every table log-probability lp(k) = Σ ±9 ladder
    lookups — is EXACT decimal algebra, bit-identical across engines (no
    float sum ever happens; the two-sided selection lp(k) ≤ lp(obs) is
    an exact-decimal comparison, no epsilon needed). The tail sum shifts
    by the selected max M (terms exp(lp−M) ∈ (0,1] snap at 12 dp —
    sub-1e-12 tables vanish identically in both engines), so
    ln p = M + ln Σ is stable even when p underflows a double.
    Accuracy: the 8-dp ladder snap bounds |lp error| ≤ 9n·5e-9 — ~1e-3
    in log space at the bench SFs, irrelevant to the 0.05 gate and
    IDENTICAL in both engines by construction.

    Scale contract: the ladder is O(n) rows for n observations — this is
    the small-to-moderate-count EXACT test (its statistical niche); at
    counts where the ladder is big, the χ² family is the right tool and
    this plan's single range-window is the only part that grows. The
    four cell counts are one conditional aggregate (bounded 1-row
    collect, the set-cover precedent); everything else is ≤|support|
    rows."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)).alias(
            "r1"
        ),
        F.sum(F.when(F.col("o_totalprice") > 300000, 1).otherwise(0)).alias("c1"),
        F.sum(
            F.when(
                (F.col("o_orderpriority") == "1-URGENT")
                & (F.col("o_totalprice") > 300000),
                1,
            ).otherwise(0)
        ).alias("a"),
    ).collect()[0]
    # empty input: the conditional SUMs come back NULL — an empty corpus is
    # the degenerate 0/0/0/0 table (p = 1), not a crash
    n, r1, c1, a_obs = (
        int(cells.n or 0),
        int(cells.r1 or 0),
        int(cells.c1 or 0),
        int(cells.a or 0),
    )
    lo, hi = max(0, r1 + c1 - n), min(r1, c1)
    ladder = (
        spark.range(0, n + 1)
        .select(
            F.col("id").alias("i"),
            F.when(F.col("id") == 0, F.lit(0).cast("decimal(18,8)"))
            .otherwise(F.round(F.log(F.col("id").cast("double")).cast("decimal(18,8)"), 8))
            .alias("ln_i"),
        )
        .select(
            "i",
            F.sum("ln_i")
            .over(
                Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
            )
            .cast("decimal(28,8)")
            .alias("lf"),
        )
        .localCheckpoint()  # 5 lookup joins reuse it; the range scans once
    )
    consts = ladder.agg(
        *[
            F.max(F.when(F.col("i") == v, F.col("lf"))).alias(nm)
            for nm, v in [
                ("lf_r1", r1),
                ("lf_nr1", n - r1),
                ("lf_c1", c1),
                ("lf_nc1", n - c1),
                ("lf_n", n),
            ]
        ]
    )
    ks = spark.range(lo, hi + 1).select(F.col("id").alias("k"))

    def look(expr, nm):
        return ladder.select(F.col("i").alias(f"i_{nm}"), F.col("lf").alias(nm))

    lp = (
        ks.join(look(None, "lf_k"), F.col("k") == F.col("i_lf_k"))
        .join(look(None, "lf_r1k"), F.lit(r1) - F.col("k") == F.col("i_lf_r1k"))
        .join(look(None, "lf_c1k"), F.lit(c1) - F.col("k") == F.col("i_lf_c1k"))
        .join(
            look(None, "lf_rest"),
            F.lit(n - r1 - c1) + F.col("k") == F.col("i_lf_rest"),
        )
        .crossJoin(F.broadcast(consts))
        .select(
            "k",
            (
                F.col("lf_r1")
                + F.col("lf_nr1")
                + F.col("lf_c1")
                + F.col("lf_nc1")
                - F.col("lf_n")
                - F.col("lf_k")
                - F.col("lf_r1k")
                - F.col("lf_c1k")
                - F.col("lf_rest")
            ).cast("decimal(28,8)").alias("lp"),
        )
        .localCheckpoint()  # reused: observed row, selection, max-shift
    )
    lp_obs = lp.filter(F.col("k") == a_obs).select(F.col("lp").alias("lp_obs"))
    sel = lp.crossJoin(F.broadcast(lp_obs)).filter(F.col("lp") <= F.col("lp_obs"))
    m_row = sel.agg(F.max("lp").alias("m"), F.count(F.lit(1)).alias("support"))
    summed = (
        sel.crossJoin(F.broadcast(m_row))
        .select(
            "m",
            "support",
            F.round(
                F.exp((F.col("lp") - F.col("m")).cast("double")).cast(
                    "decimal(14,12)"
                ),
                12,
            ).alias("term"),
        )
        .groupBy("m", "support")
        .agg(F.sum("term").alias("s"))
    )
    lnp = F.col("m").cast("double") + F.round(
        F.log(F.col("s").cast("double")).cast("decimal(18,9)"), 9
    ).cast("double")
    return summed.select(
        F.lit(n).cast("long").alias("n"),
        F.lit(r1).cast("long").alias("n_urgent"),
        F.lit(c1).cast("long").alias("n_highvalue"),
        F.lit(a_obs).cast("long").alias("a_obs"),
        F.col("support").cast("long").alias("tables_in_tail"),
        snap_round(lnp, 6).alias("ln_p"),
        snap_round(F.exp(lnp), 6).alias("p_value"),
        (lnp < -2.995732273553991).alias("significant"),  # ln 0.05
    )


FISHER_EXACT_TEST_SQL = """
WITH cells AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                AS BIGINT) AS r1,
           CAST(SUM(CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END)
                AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                          AND o_totalprice > 300000 THEN 1 ELSE 0 END)
                AS BIGINT) AS a
    FROM orders
),
ladder AS MATERIALIZED (
    SELECT i,
           CAST(SUM(CASE WHEN i = 0 THEN CAST(0 AS DECIMAL(18,8))
                         ELSE ROUND(CAST(LN(CAST(i AS DOUBLE)) AS DECIMAL(18,8)), 8)
                    END)
               OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS DECIMAL(28,8)) AS lf
    FROM range(0, 1000001) t(i)
    WHERE i <= (SELECT n FROM cells)
),
consts AS (
    SELECT MAX(CASE WHEN i = (SELECT r1 FROM cells) THEN lf END) AS lf_r1,
           MAX(CASE WHEN i = (SELECT n - r1 FROM cells) THEN lf END) AS lf_nr1,
           MAX(CASE WHEN i = (SELECT c1 FROM cells) THEN lf END) AS lf_c1,
           MAX(CASE WHEN i = (SELECT n - c1 FROM cells) THEN lf END) AS lf_nc1,
           MAX(CASE WHEN i = (SELECT n FROM cells) THEN lf END) AS lf_n
    FROM ladder
),
ks AS (
    SELECT i AS k FROM range(0, 1000001) t(i)
    WHERE i >= (SELECT GREATEST(0, r1 + c1 - n) FROM cells)
      AND i <= (SELECT LEAST(r1, c1) FROM cells)
),
lp AS (
    SELECT k,
           CAST(consts.lf_r1 + consts.lf_nr1 + consts.lf_c1 + consts.lf_nc1
                - consts.lf_n
                - k_l.lf - r1k.lf - c1k.lf - rest.lf AS DECIMAL(28,8)) AS lp
    FROM ks
    CROSS JOIN consts
    JOIN ladder k_l ON k_l.i = ks.k
    JOIN ladder r1k ON r1k.i = (SELECT r1 FROM cells) - ks.k
    JOIN ladder c1k ON c1k.i = (SELECT c1 FROM cells) - ks.k
    JOIN ladder rest ON rest.i = (SELECT n - r1 - c1 FROM cells) + ks.k
),
obs AS (SELECT lp AS lp_obs FROM lp WHERE k = (SELECT a FROM cells)),
sel AS (SELECT lp.* FROM lp CROSS JOIN obs WHERE lp <= lp_obs),
m_row AS (SELECT MAX(lp) AS m, CAST(COUNT(*) AS BIGINT) AS support FROM sel),
summed AS (
    SELECT m, support,
           SUM(ROUND(CAST(EXP(CAST(lp - m AS DOUBLE)) AS DECIMAL(14,12)), 12)) AS s
    FROM sel CROSS JOIN m_row
    GROUP BY m, support
)
SELECT (SELECT n FROM cells) AS n,
       (SELECT r1 FROM cells) AS n_urgent,
       (SELECT c1 FROM cells) AS n_highvalue,
       (SELECT a FROM cells) AS a_obs,
       support AS tables_in_tail,
       CAST(ROUND(CAST(
           CAST(m AS DOUBLE)
           + CAST(ROUND(CAST(LN(CAST(s AS DOUBLE)) AS DECIMAL(18,9)), 9) AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS ln_p,
       CAST(ROUND(CAST(EXP(
           CAST(m AS DOUBLE)
           + CAST(ROUND(CAST(LN(CAST(s AS DOUBLE)) AS DECIMAL(18,9)), 9) AS DOUBLE))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS p_value,
       (CAST(m AS DOUBLE)
        + CAST(ROUND(CAST(LN(CAST(s AS DOUBLE)) AS DECIMAL(18,9)), 9) AS DOUBLE))
           < -2.995732273553991 AS significant
FROM summed
"""


def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score — the diagnostic BEHIND the
    calibration/reliability table: train a binned purchase-propensity
    model on the first calendar half (per user-day activity bin → rate of
    purchase days), score the second half, and split the Brier score into
    REL − RES + UNC (miscalibration − discrimination + irreducible base
    uncertainty). The identity column `check` = rel − res + unc is
    emitted so the oracle certifies the decomposition, not just the
    score (it holds exactly because predictions are constant per bin).

    Exactness: outcomes and bin counts are integers; the per-bin
    prediction is ONE divide of ints; every Σ(p̂−o)² expands to
    n_b·p̂² − 2·p̂·k_b + k_b (ints and one double each — no row-level
    float accumulation anywhere); the four statistics snap at 6 dp.
    Unseen-in-train bins are EXCLUDED (documented: the model abstains
    rather than inventing a prior).

    Scale: one keyed (user, day) exchange with map-side partials, then a
    ≤|bins| relation — the train and eval halves are conditional
    aggregates of the same pass, so the fact table scans once."""
    e = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("date")
    ud = (
        e.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_ev"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "bought"
            ),
        )
        .select(
            F.when(F.col("n_ev") <= 1, "a_1")
            .when(F.col("n_ev") <= 3, "b_2_3")
            .when(F.col("n_ev") <= 7, "c_4_7")
            .otherwise("d_8p")
            .alias("bin"),
            (F.col("day") < cut).alias("is_train"),
            "bought",
        )
    )
    per_bin = ud.groupBy("bin").agg(
        F.sum(F.when(F.col("is_train"), 1).otherwise(0)).cast("long").alias("n_tr"),
        F.sum(F.when(F.col("is_train"), F.col("bought")).otherwise(0))
        .cast("long")
        .alias("k_tr"),
        F.sum(F.when(~F.col("is_train"), 1).otherwise(0)).cast("long").alias("n_ev"),
        F.sum(F.when(~F.col("is_train"), F.col("bought")).otherwise(0))
        .cast("long")
        .alias("k_ev"),
    ).filter((F.col("n_tr") > 0) & (F.col("n_ev") > 0))
    p_hat = F.col("k_tr").cast("double") / F.col("n_tr").cast("double")
    o_bar_b = F.col("k_ev").cast("double") / F.col("n_ev").cast("double")
    staged = per_bin.select(
        "n_ev",
        "k_ev",
        F.round(p_hat.cast("decimal(18,9)"), 9).alias("p_hat"),
        F.round(o_bar_b.cast("decimal(18,9)"), 9).alias("o_bar_b"),
    ).localCheckpoint()  # ≤|bins| rows feeding the Brier/REL pass AND the
    # ō-centered RES pass: materialize so events scans exactly once
    sums = staged.agg(
        F.sum("n_ev").cast("long").alias("n"),
        F.sum("k_ev").cast("long").alias("k"),
        F.sum(
            F.round(
                (
                    F.col("n_ev").cast("double")
                    * F.col("p_hat").cast("double")
                    * F.col("p_hat").cast("double")
                    - 2.0 * F.col("p_hat").cast("double") * F.col("k_ev").cast("double")
                    + F.col("k_ev").cast("double")
                ).cast("decimal(28,9)"),
                9,
            )
        ).alias("brier_num"),
        F.sum(
            F.round(
                (
                    F.col("n_ev").cast("double")
                    * (F.col("p_hat") - F.col("o_bar_b")).cast("double")
                    * (F.col("p_hat") - F.col("o_bar_b")).cast("double")
                ).cast("decimal(28,9)"),
                9,
            )
        ).alias("rel_num"),
    )
    n_d = F.col("n").cast("double")
    o_bar = F.col("k").cast("double") / n_d
    # RES needs ō: second tiny pass over the staged relation via crossJoin
    res_num = staged.crossJoin(F.broadcast(sums.select("n", "k"))).select(
        F.round(
            (
                F.col("n_ev").cast("double")
                * (
                    F.col("o_bar_b").cast("double")
                    - F.col("k").cast("double") / F.col("n").cast("double")
                )
                * (
                    F.col("o_bar_b").cast("double")
                    - F.col("k").cast("double") / F.col("n").cast("double")
                )
            ).cast("decimal(28,9)"),
            9,
        ).alias("t")
    ).agg(F.sum("t").alias("res_num"))
    out = sums.crossJoin(F.broadcast(res_num))
    brier = F.col("brier_num").cast("double") / n_d
    rel = F.col("rel_num").cast("double") / n_d
    res = F.col("res_num").cast("double") / n_d
    unc = o_bar * (F.lit(1.0) - o_bar)
    return out.select(
        "n",
        snap_round(brier, 6).alias("brier"),
        snap_round(rel, 6).alias("reliability"),
        snap_round(res, 6).alias("resolution"),
        snap_round(unc, 6).alias("uncertainty"),
        snap_round(rel - res + unc, 6).alias("check"),
    )


BRIER_DECOMPOSITION_SQL = """
WITH ud AS (
    SELECT CASE WHEN COUNT(*) <= 1 THEN 'a_1'
                WHEN COUNT(*) <= 3 THEN 'b_2_3'
                WHEN COUNT(*) <= 7 THEN 'c_4_7'
                ELSE 'd_8p' END AS bin,
           CAST(ts AS DATE) < DATE '2024-01-16' AS is_train,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
    FROM events GROUP BY user_id, CAST(ts AS DATE)
),
per_bin AS (
    SELECT bin,
           CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_tr,
           CAST(SUM(CASE WHEN is_train THEN bought ELSE 0 END) AS BIGINT) AS k_tr,
           CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT) AS n_ev,
           CAST(SUM(CASE WHEN is_train THEN 0 ELSE bought END) AS BIGINT) AS k_ev
    FROM ud GROUP BY bin
    HAVING SUM(CASE WHEN is_train THEN 1 ELSE 0 END) > 0
       AND SUM(CASE WHEN is_train THEN 0 ELSE 1 END) > 0
),
staged AS (
    SELECT n_ev, k_ev,
           ROUND(CAST(CAST(k_tr AS DOUBLE) / CAST(n_tr AS DOUBLE)
                 AS DECIMAL(18,9)), 9) AS p_hat,
           ROUND(CAST(CAST(k_ev AS DOUBLE) / CAST(n_ev AS DOUBLE)
                 AS DECIMAL(18,9)), 9) AS o_bar_b
    FROM per_bin
),
sums AS (
    SELECT CAST(SUM(n_ev) AS BIGINT) AS n,
           CAST(SUM(k_ev) AS BIGINT) AS k,
           SUM(ROUND(CAST(
               CAST(n_ev AS DOUBLE) * CAST(p_hat AS DOUBLE) * CAST(p_hat AS DOUBLE)
               - 2.0 * CAST(p_hat AS DOUBLE) * CAST(k_ev AS DOUBLE)
               + CAST(k_ev AS DOUBLE)
               AS DECIMAL(28,9)), 9)) AS brier_num,
           SUM(ROUND(CAST(
               CAST(n_ev AS DOUBLE)
               * CAST(p_hat - o_bar_b AS DOUBLE) * CAST(p_hat - o_bar_b AS DOUBLE)
               AS DECIMAL(28,9)), 9)) AS rel_num
    FROM staged
),
resn AS (
    SELECT SUM(ROUND(CAST(
               CAST(n_ev AS DOUBLE)
               * (CAST(o_bar_b AS DOUBLE) - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(o_bar_b AS DOUBLE) - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
               AS DECIMAL(28,9)), 9)) AS res_num
    FROM staged CROSS JOIN sums
)
SELECT n,
       CAST(ROUND(CAST(CAST(brier_num AS DOUBLE) / CAST(n AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS brier,
       CAST(ROUND(CAST(CAST(rel_num AS DOUBLE) / CAST(n AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS reliability,
       CAST(ROUND(CAST(CAST(res_num AS DOUBLE) / CAST(n AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS resolution,
       CAST(ROUND(CAST(
           (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
           * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS uncertainty,
       CAST(ROUND(CAST(
           CAST(rel_num AS DOUBLE) / CAST(n AS DOUBLE)
           - CAST(res_num AS DOUBLE) / CAST(n AS DOUBLE)
           + (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
             * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS check
FROM sums CROSS JOIN resn
"""


def q_randomization_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisherian randomization inference on the urgent-vs-not order-value
    gap: re-draw the treatment assignment B = 200 times as EXACT
    margin-preserving permutations (per draw, the r1 orders ranked lowest
    by md5(draw:orderkey) are 'treated' — a true label shuffle, not a
    Bernoulli approximation), recompute the mean gap under each, and
    report p = (1 + #{|gap_b| ≥ |gap_obs|}) / (B + 1) — the add-one
    Monte-Carlo form. This is the design-based companion of the model
    t-test family: no variance formula, no normality, the assignment
    mechanism itself is the null.

    Determinism: md5 is the engines' shared hash, so all 200 permutations
    are identical in both; per-draw sums are exact decimals; each gap
    snaps at 6 dp before the |·| ≥ |·| comparison, so the extreme-count
    is integer-identical. Scale (round-4 rewrite): the naive form ranks
    ALL B×n rows per draw — a 30M-row shuffle+sort that made this the
    suite's slowest query (34 s at sf0.1). The treated set is really
    {h ≤ n1-th smallest h per draw}, an ORDER STATISTIC — so the plan
    runs the quantile-extractor trick instead: bucket each hash by its
    first two hex digits (value-monotone), count per (draw, bucket)
    (map-side combined, ≤ B·256 rows), locate each draw's threshold
    bucket, rank ONLY that bucket's ~n/256 rows, and broadcast the B
    threshold hashes back onto a scan-stage `h ≤ t` predicate. No
    full-fan sort ever happens (34 s → ~7 s; identical treated sets).
    At corpus sizes where even the per-draw rank machinery hurts, the
    swap-in is `randomization_inference_bernoulli` (registered + oracled
    since round 6): hash-Bernoulli assignment, approximate margins, one
    map-side-combined groupBy — p-values agree within Monte-Carlo
    tolerance (pinned in tests/test_round3_ops.py).

    Degenerate-case note (round-7 advice): with n1 = 0 (no urgent orders —
    unreachable with generated data, where every priority stratum is
    populated) no threshold bucket exists, per_b is empty, and the final
    row carries b_total=0 / NULL p_value, where the oracle would say
    b_total=200, p=1/201. Callers on foreign data should assert n1 ≥ 1.

    Round-7 negative result (kept two fan passes): folding the threshold
    bucket's (h, y) rows into pass 1 via a binomial-window-predicted
    conditional collect_list was measured ×1.5 WORSE (job time 7.2→10.9 s
    at sf0.1) — collect_list demotes the whole 30M-row aggregate from
    whole-stage-codegen HashAggregate to ObjectHashAggregate, which costs
    far more than the second fan pass it saves; an explicit post-md5
    repartition for exchange reuse would shuffle the raw ~1.5 GB fan and
    loses the map-side combine. The two-pass form stands."""
    b_draws = 200
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderpriority") == "1-URGENT").alias("treated"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("y"),
    )

    obs = o.agg(
        F.sum(F.when(F.col("treated"), F.col("y"))).alias("s1"),
        F.sum(F.when(F.col("treated"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(~F.col("treated"), F.col("y"))).alias("s0"),
        F.sum(F.when(~F.col("treated"), 1).otherwise(0)).cast("long").alias("n0"),
        F.sum("y").alias("s_all"),
    ).select(
        snap_round(
            F.col("s1").cast("double") / F.col("n1").cast("double")
            - F.col("s0").cast("double") / F.col("n0").cast("double"),
            6,
        ).alias("gap_obs"),
        (F.col("n1") + F.col("n0")).alias("n"),
        F.col("n1"),
        F.col("s_all"),
    )
    draws = spark.range(0, b_draws).select(F.col("id").alias("b"))
    # the fan's md5 is the dominant compute (B·n evaluations) and the
    # orders scan arrives in ~#files partitions — fan_out it across the
    # cluster BEFORE the fan so the hash work parallelizes (measured
    # 14 s -> ~1.5 s for the 30M-row fan at sf0.1 on local[32]; a no-op
    # once the real input already exceeds defaultParallelism)
    from candyspark.sources.readers import fan_out

    fan = fan_out(o).crossJoin(F.broadcast(draws)).select(
        "b",
        "y",
        F.md5(
            F.concat(F.col("b").cast("string"), F.lit(":"), F.col("o_orderkey").cast("string"))
        ).alias("h"),
    )
    bk = F.conv(F.substring("h", 1, 2), 16, 10).cast("int")
    # Pass 1 over the fan: per-(draw, bucket) COUNT **and exact decimal
    # SUM(y)** (round-6 optimization — the sums ride the same map-side
    # combine for free). With per-bucket sums in hand, each draw's treated
    # total is (sum of full buckets below the threshold bucket) + (partial
    # sum inside it), so the third full fan pass the round-5 form paid —
    # re-hashing all B·n rows to test `h ≤ t_h` — is gone entirely; the
    # treated SET is unchanged (exactly the n1 smallest hashes per draw).
    counts = fan.withColumn("bk", bk).groupBy("b", "bk").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").alias("sy")
    )
    w_cum = (
        Window.partitionBy("b").orderBy("bk").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    cum = counts.select(
        "b",
        "bk",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("sy").over(w_cum).alias("cum_sy"),
        F.col("c"),
        F.col("sy"),
    ).crossJoin(F.broadcast(obs.select("n1")))
    need = cum.filter(
        (F.col("cum") >= F.col("n1")) & (F.col("cum") - F.col("c") < F.col("n1"))
    ).select(
        "b",
        "bk",
        (F.col("n1") - (F.col("cum") - F.col("c"))).alias("k_in"),
        (F.col("cum_sy") - F.col("sy")).alias("s_below"),
    )
    # Pass 2 over the fan: only the threshold bucket's rows (≈ n/256 per
    # draw) survive the broadcast semi-filter; rank them by h and take the
    # k_in-smallest rows' exact decimal sum — decimal addition is
    # associative, so s_below + s_in equals the one-shot sum over the
    # treated set bit-for-bit.
    sub = fan.withColumn("bk", bk).join(F.broadcast(need), ["b", "bk"])
    w_rk = Window.partitionBy("b").orderBy("h")
    per_b = (
        sub.withColumn("rk", F.row_number().over(w_rk))
        .groupBy("b", "s_below")
        .agg(F.sum(F.when(F.col("rk") <= F.col("k_in"), F.col("y"))).alias("s_in"))
        .crossJoin(F.broadcast(obs.select("n1", "n", F.col("s_all"))))
        .select(
            snap_round(
                (F.col("s_below") + F.col("s_in")).cast("double")
                / F.col("n1").cast("double")
                - (F.col("s_all") - F.col("s_below") - F.col("s_in")).cast("double")
                / (F.col("n") - F.col("n1")).cast("double"),
                6,
            ).alias("gap_b")
        )
    )
    counted = per_b.crossJoin(F.broadcast(obs.select("gap_obs"))).agg(
        F.sum(
            F.when(F.abs(F.col("gap_b")) >= F.abs(F.col("gap_obs")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_extreme"),
        F.count(F.lit(1)).cast("long").alias("b_total"),
    )
    return counted.crossJoin(F.broadcast(obs)).select(
        F.col("n"),
        F.col("n1").alias("n_treated"),
        "gap_obs",
        "b_total",
        "n_extreme",
        snap_round(
            (F.col("n_extreme") + 1).cast("double")
            / (F.col("b_total") + 1).cast("double"),
            6,
        ).alias("p_value"),
    )


RANDOMIZATION_INFERENCE_SQL = """
WITH o AS (
    SELECT o_orderkey,
           o_orderpriority = '1-URGENT' AS treated,
           CAST(o_totalprice AS DECIMAL(12,2)) AS y
    FROM orders
),
obs AS (
    SELECT CAST(ROUND(CAST(
               CAST(SUM(CASE WHEN treated THEN y END) AS DOUBLE)
               / CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS DOUBLE)
               - CAST(SUM(CASE WHEN NOT treated THEN y END) AS DOUBLE)
               / CAST(SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS DOUBLE)
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS gap_obs,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n1
    FROM o
),
fan AS (
    SELECT d.b, o.y,
           md5(concat(CAST(d.b AS VARCHAR), ':', CAST(o.o_orderkey AS VARCHAR))) AS h
    FROM o CROSS JOIN (SELECT unnest(range(200)) AS b) d
),
ranked AS (
    SELECT b, y,
           ROW_NUMBER() OVER (PARTITION BY b ORDER BY h) AS rk
    FROM fan
),
per_b AS (
    SELECT CAST(ROUND(CAST(
               CAST(SUM(CASE WHEN rk <= obs.n1 THEN y END) AS DOUBLE)
               / CAST(SUM(CASE WHEN rk <= obs.n1 THEN 1 ELSE 0 END) AS DOUBLE)
               - CAST(SUM(CASE WHEN rk > obs.n1 THEN y END) AS DOUBLE)
               / CAST(SUM(CASE WHEN rk > obs.n1 THEN 1 ELSE 0 END) AS DOUBLE)
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS gap_b
    FROM ranked CROSS JOIN obs
    GROUP BY b
),
counted AS (
    SELECT CAST(SUM(CASE WHEN ABS(gap_b) >= ABS(obs.gap_obs) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_extreme,
           CAST(COUNT(*) AS BIGINT) AS b_total
    FROM per_b CROSS JOIN obs
)
SELECT obs.n,
       obs.n1 AS n_treated,
       obs.gap_obs,
       counted.b_total,
       counted.n_extreme,
       CAST(ROUND(CAST(
           CAST(counted.n_extreme + 1 AS DOUBLE)
           / CAST(counted.b_total + 1 AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS p_value
FROM counted CROSS JOIN obs
"""


def q_randomization_inference_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS-SCALE swap-in for `randomization_inference` (round-5
    verdict item 4, code-ifying what was previously only docstring prose):
    per draw b, each order is treated iff its md5-derived uniform
    u = int(h[:8], 16) / 2^32 falls below the OBSERVED treated share
    p = n1/n — a hash-Bernoulli assignment. Margins are approximate
    (n1_b ~ Binomial(n, p)), which is exactly the classical
    Bernoulli-randomization null; the p-value converges to the
    permutation form's at rate O(1/√n) and the plan drops the entire
    order-statistic machinery: the B×n fan feeds ONE map-side-combined
    groupBy(b) — no per-draw rank, no threshold bucket, no broadcast-back
    join. That is the shape that survives n where even one sorted pass
    per draw hurts.

    Determinism: u is an exact ≤2^32 integer → exact double; u/2^32 is a
    power-of-two divide (exact); p = n1/n is ONE correctly-rounded IEEE
    divide — both engines compare the identical doubles, so all B
    assignments are bit-identical. Per-draw sums stay exact decimals;
    gaps snap at 6 dp before the extreme-count comparison (the
    permutation form's discipline)."""
    b_draws = 200
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderpriority") == "1-URGENT").alias("treated"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("y"),
    )
    obs = o.agg(
        F.sum(F.when(F.col("treated"), F.col("y"))).alias("s1"),
        F.sum(F.when(F.col("treated"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(~F.col("treated"), F.col("y"))).alias("s0"),
        F.sum(F.when(~F.col("treated"), 1).otherwise(0)).cast("long").alias("n0"),
    ).select(
        snap_round(
            F.col("s1").cast("double") / F.col("n1").cast("double")
            - F.col("s0").cast("double") / F.col("n0").cast("double"),
            6,
        ).alias("gap_obs"),
        (F.col("n1") + F.col("n0")).alias("n"),
        F.col("n1"),
    )
    from candyspark.sources.readers import fan_out

    draws = spark.range(0, b_draws).select(F.col("id").alias("b"))
    u = (
        char_hash32(
            F.concat(
                F.col("b").cast("string"), F.lit(":"), F.col("o_orderkey").cast("string")
            )
        ).cast("double")
        / F.lit(4294967296.0)
    )
    p = F.col("n1").cast("double") / F.col("n").cast("double")
    per_b = (
        fan_out(o)
        .crossJoin(F.broadcast(draws))
        .crossJoin(F.broadcast(obs.select("n1", "n")))
        .select("b", "y", (u < p).alias("t_b"))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("t_b"), F.col("y"))).alias("s1"),
            F.sum(F.when(F.col("t_b"), 1).otherwise(0)).cast("long").alias("n1"),
            F.sum(F.when(~F.col("t_b"), F.col("y"))).alias("s0"),
            F.sum(F.when(~F.col("t_b"), 1).otherwise(0)).cast("long").alias("n0"),
        )
        .select(
            snap_round(
                F.col("s1").cast("double") / F.col("n1").cast("double")
                - F.col("s0").cast("double") / F.col("n0").cast("double"),
                6,
            ).alias("gap_b")
        )
    )
    counted = per_b.crossJoin(F.broadcast(obs.select("gap_obs"))).agg(
        F.sum(
            F.when(F.abs(F.col("gap_b")) >= F.abs(F.col("gap_obs")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_extreme"),
        F.count(F.lit(1)).cast("long").alias("b_total"),
    )
    return counted.crossJoin(F.broadcast(obs)).select(
        F.col("n"),
        F.col("n1").alias("n_treated"),
        "gap_obs",
        "b_total",
        "n_extreme",
        snap_round(
            (F.col("n_extreme") + 1).cast("double")
            / (F.col("b_total") + 1).cast("double"),
            6,
        ).alias("p_value"),
    )


RANDOMIZATION_INFERENCE_BERNOULLI_SQL = """
WITH o AS (
    SELECT o_orderkey,
           o_orderpriority = '1-URGENT' AS treated,
           CAST(o_totalprice AS DECIMAL(12,2)) AS y
    FROM orders
),
obs AS (
    SELECT CAST(ROUND(CAST(
               CAST(SUM(CASE WHEN treated THEN y END) AS DOUBLE)
               / CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS DOUBLE)
               - CAST(SUM(CASE WHEN NOT treated THEN y END) AS DOUBLE)
               / CAST(SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS DOUBLE)
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS gap_obs,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n1
    FROM o
),
fan AS (
    SELECT d.b, o.y,
           CAST(CAST(concat('0x', substr(md5(concat(CAST(d.b AS VARCHAR), ':',
                CAST(o.o_orderkey AS VARCHAR))), 1, 8)) AS BIGINT) AS DOUBLE)
               / 4294967296.0
               < CAST(obs.n1 AS DOUBLE) / CAST(obs.n AS DOUBLE) AS t_b
    FROM o CROSS JOIN (SELECT unnest(range(200)) AS b) d CROSS JOIN obs
),
per_b AS (
    SELECT CAST(ROUND(CAST(
               CAST(SUM(CASE WHEN t_b THEN y END) AS DOUBLE)
               / CAST(SUM(CASE WHEN t_b THEN 1 ELSE 0 END) AS DOUBLE)
               - CAST(SUM(CASE WHEN NOT t_b THEN y END) AS DOUBLE)
               / CAST(SUM(CASE WHEN NOT t_b THEN 1 ELSE 0 END) AS DOUBLE)
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS gap_b
    FROM fan
    GROUP BY b
),
counted AS (
    SELECT CAST(SUM(CASE WHEN ABS(gap_b) >= ABS(obs.gap_obs) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_extreme,
           CAST(COUNT(*) AS BIGINT) AS b_total
    FROM per_b CROSS JOIN obs
)
SELECT obs.n,
       obs.n1 AS n_treated,
       obs.gap_obs,
       counted.b_total,
       counted.n_extreme,
       CAST(ROUND(CAST(
           CAST(counted.n_extreme + 1 AS DOUBLE)
           / CAST(counted.b_total + 1 AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS p_value
FROM counted CROSS JOIN obs
"""


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness release audit - the third privacy rung after
    q_k_anonymity's k/l checks: an equivalence class can be k-anonymous
    and l-diverse yet still leak (everyone in it is rich). t-closeness
    bounds how far each class's SENSITIVE distribution sits from the
    global one; for the ordinal balance band the right distance is the
    ordered EMD: t = sum_i |cum_class(i) - cum_global(i)| / (m - 1)
    (Li, Li & Venkatasubramanian 2007).

    Quasi-identifiers mirror q_k_anonymity (nation x market segment -
    the release grain); sensitive attribute = acctbal quartile band on
    fixed 3000/6000/9000 boundaries (exact DECIMAL comparisons). Both
    cumulatives are exact integer counts over a FIXED 4-band spine
    (a broadcast 4-row relation, so classes missing a band still carry
    its cumulative row); the only doubles are the final per-class t
    (snapped) and the summary shares.

    At 100 TB: one map-side-combined (QI x band) aggregate, a broadcast
    band spine, windows over QI-cardinality rows. Returns one row per
    class plus the '__summary__' row (max t, share of classes failing
    t <= 0.2).
    """
    c = load_table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal").cast("decimal(12,2)") < 3000, 1)
        .when(F.col("c_acctbal").cast("decimal(12,2)") < 6000, 2)
        .when(F.col("c_acctbal").cast("decimal(12,2)") < 9000, 3)
        .otherwise(4)
    )
    cells = (
        c.select(
            F.col("c_nationkey").cast("long").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            band.alias("band"),
        )
        .groupBy("nation", "segment", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    spine = spark.range(1, 5).select(F.col("id").cast("int").alias("band"))
    classes = cells.select("nation", "segment").distinct()
    full = (
        classes.crossJoin(F.broadcast(spine))
        .join(cells, ["nation", "segment", "band"], "left")
        .select(
            "nation",
            "segment",
            "band",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
        )
    )
    w_class = Window.partitionBy("nation", "segment").orderBy("band").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_class_all = Window.partitionBy("nation", "segment")
    staged = full.select(
        "nation",
        "segment",
        "band",
        F.sum("cnt").over(w_class).cast("long").alias("cum_c"),
        F.sum("cnt").over(w_class_all).cast("long").alias("n_c"),
    )
    glob = (
        cells.groupBy("band")
        .agg(F.sum("cnt").cast("long").alias("g_cnt"))
        .join(F.broadcast(spine), ["band"], "right")
        .select("band", F.coalesce(F.col("g_cnt"), F.lit(0)).alias("g_cnt"))
        .select(
            "band",
            F.sum("g_cnt")
            .over(Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0))
            .cast("long")
            .alias("cum_g"),
            F.sum("g_cnt").over(Window.partitionBy()).cast("long").alias("n_g"),
        )
    )
    per_band = staged.join(F.broadcast(glob), "band").select(
        "nation",
        "segment",
        "n_c",
        # |cum_class/n_c - cum_global/n_g| exactly: integer cross-products
        F.abs(
            F.col("cum_c").cast("decimal(38,0)") * F.col("n_g").cast("decimal(38,0)")
            - F.col("cum_g").cast("decimal(38,0)") * F.col("n_c").cast("decimal(38,0)")
        ).alias("num"),
        (F.col("n_c").cast("decimal(38,0)") * F.col("n_g").cast("decimal(38,0)")).alias(
            "den"
        ),
    )
    per_class = per_band.groupBy("nation", "segment", "n_c", "den").agg(
        F.sum("num").alias("num_sum")
    )
    t = snap_round(
        F.col("num_sum").cast("double") / (F.lit(3.0) * F.col("den").cast("double")),
        6,
    )
    rows = per_class.select(
        F.col("nation").cast("string").alias("class_nation"),
        F.col("segment").alias("class_segment"),
        F.col("n_c").alias("class_size"),
        t.alias("t_distance"),
        (t > 0.2).alias("fails_t02"),
    )
    summary = rows.agg(
        F.lit("__summary__").alias("class_nation"),
        F.lit("").alias("class_segment"),
        F.count(F.lit(1)).cast("long").alias("class_size"),
        F.max("t_distance").alias("t_distance"),
        (F.max("t_distance") > 0.2).alias("fails_t02"),
    )
    return rows.unionByName(summary)


T_CLOSENESS_SQL = """
WITH cells AS (
    SELECT CAST(c_nationkey AS BIGINT) AS nation,
           c_mktsegment AS segment,
           CASE WHEN CAST(c_acctbal AS DECIMAL(12,2)) < 3000 THEN 1
                WHEN CAST(c_acctbal AS DECIMAL(12,2)) < 6000 THEN 2
                WHEN CAST(c_acctbal AS DECIMAL(12,2)) < 9000 THEN 3
                ELSE 4 END AS band,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer GROUP BY 1, 2, 3
),
spine AS (SELECT UNNEST(generate_series(1, 4)) AS band),
classes AS (SELECT DISTINCT nation, segment FROM cells),
full_ AS (
    SELECT cl.nation, cl.segment, s.band,
           CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
    FROM classes cl CROSS JOIN spine s
    LEFT JOIN cells c
      ON c.nation = cl.nation AND c.segment = cl.segment AND c.band = s.band
),
staged AS (
    SELECT nation, segment, band,
           CAST(SUM(cnt) OVER (PARTITION BY nation, segment ORDER BY band
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
           CAST(SUM(cnt) OVER (PARTITION BY nation, segment) AS BIGINT) AS n_c
    FROM full_
),
gcum AS (
    SELECT s.band,
           CAST(SUM(COALESCE(g.g_cnt, 0)) OVER (ORDER BY s.band
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_g,
           CAST(SUM(COALESCE(g.g_cnt, 0)) OVER () AS BIGINT) AS n_g
    FROM spine s
    LEFT JOIN (
        SELECT band, CAST(SUM(cnt) AS BIGINT) AS g_cnt FROM cells GROUP BY 1
    ) g ON s.band = g.band
),
per_class AS (
    SELECT nation, segment, n_c,
           CAST(n_c AS DECIMAL(38,0)) * (SELECT MAX(n_g) FROM gcum) AS den,
           SUM(ABS(CAST(cum_c AS DECIMAL(38,0)) * gl.n_g
                   - CAST(gl.cum_g AS DECIMAL(38,0)) * n_c)) AS num_sum
    FROM staged st JOIN gcum gl ON st.band = gl.band
    GROUP BY 1, 2, 3
),
rows_ AS (
    SELECT CAST(nation AS VARCHAR) AS class_nation,
           segment AS class_segment,
           n_c AS class_size,
           CAST(ROUND(CAST(CAST(num_sum AS DOUBLE) / (3.0 * CAST(den AS DOUBLE))
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS t_distance
    FROM per_class
)
SELECT class_nation, class_segment, class_size, t_distance,
       t_distance > 0.2 AS fails_t02
FROM rows_
UNION ALL
SELECT '__summary__', '', CAST(COUNT(*) AS BIGINT),
       MAX(t_distance), MAX(t_distance) > 0.2
FROM rows_
"""


def q_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit for the activity-bin purchase
    propensities (the q_brier_decomposition model): does the predicted
    probability MATCH the realized rate in every bin, formally? Brier
    scores the model, calibration_quality plots it; HL is the hypothesis
    test - chi2 = sum_g (k - n*p_hat)^2 / (n*p_hat*(1-p_hat)) on the
    held-out half, df = g - 2.

    The same user-day construction as brier (train half fits p_hat per
    activity bin, eval half realizes): integer cells, p_hat snapped at
    9 dp, one snapped chi2 term per bin summed in exact decimal.
    Degenerate bins (p_hat 0 or 1 - zero denominator) are excluded and
    counted. p-value ships only at even df via the closed-form chi2
    survival (df=2: exp(-x/2)); at other df the 5% critical-value flag
    decides (3.841 at df=1, 7.815 at df=3 - exact literals).

    Scale: one keyed (user, day) exchange with map-side partials, then a
    <=|bins| relation - the brier posture exactly.
    """
    e = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("date")
    ud = (
        e.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_ev"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "bought"
            ),
        )
        .select(
            F.when(F.col("n_ev") <= 1, "a_1")
            .when(F.col("n_ev") <= 3, "b_2_3")
            .when(F.col("n_ev") <= 7, "c_4_7")
            .otherwise("d_8p")
            .alias("bin"),
            (F.col("day") < cut).alias("is_train"),
            "bought",
        )
    )
    per_bin = ud.groupBy("bin").agg(
        F.sum(F.when(F.col("is_train"), 1).otherwise(0)).cast("long").alias("n_tr"),
        F.sum(F.when(F.col("is_train"), F.col("bought")).otherwise(0))
        .cast("long")
        .alias("k_tr"),
        F.sum(F.when(~F.col("is_train"), 1).otherwise(0)).cast("long").alias("n_ev"),
        F.sum(F.when(~F.col("is_train"), F.col("bought")).otherwise(0))
        .cast("long")
        .alias("k_ev"),
    ).filter((F.col("n_tr") > 0) & (F.col("n_ev") > 0))
    p_hat = F.round(
        (F.col("k_tr").cast("double") / F.col("n_tr").cast("double")).cast(
            "decimal(18,9)"
        ),
        9,
    ).cast("double")
    usable = per_bin.select(
        "n_ev", "k_ev", p_hat.alias("p_hat")
    ).filter((F.col("p_hat") > 0) & (F.col("p_hat") < 1))
    term = F.round(
        (
            (F.col("k_ev").cast("double") - F.col("n_ev").cast("double") * F.col("p_hat"))
            * (F.col("k_ev").cast("double") - F.col("n_ev").cast("double") * F.col("p_hat"))
            / (F.col("n_ev").cast("double") * F.col("p_hat") * (1.0 - F.col("p_hat")))
        ).cast("decimal(18,8)"),
        8,
    ).cast("decimal(18,8)")
    agg = usable.select(term.alias("t")).agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.sum("t").cast("decimal(28,8)").alias("hl_sum"),
    )
    hl = snap_round(F.col("hl_sum").cast("double"), 6)
    df_ = F.col("g") - 2
    p = F.when(df_ == 2, snap_round(F.exp(-hl / 2.0), 6))
    sig = (
        F.when(df_ == 1, hl > 3.841)
        .when(df_ == 2, hl > 5.991)
        .when(df_ == 3, hl > 7.815)
    )
    return agg.select(
        F.col("g").alias("n_bins"),
        df_.cast("long").alias("df"),
        hl.alias("hl_stat"),
        p.alias("p_value"),
        sig.alias("miscalibrated_5pct"),
    )


HOSMER_LEMESHOW_SQL = """
WITH ud AS (
    SELECT CASE WHEN n_ev <= 1 THEN 'a_1'
                WHEN n_ev <= 3 THEN 'b_2_3'
                WHEN n_ev <= 7 THEN 'c_4_7'
                ELSE 'd_8p' END AS bin,
           day < DATE '2024-01-16' AS is_train,
           bought
    FROM (
        SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_ev,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
        FROM events GROUP BY 1, 2
    )
),
per_bin AS (
    SELECT bin,
           CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_tr,
           CAST(SUM(CASE WHEN is_train THEN bought ELSE 0 END) AS BIGINT) AS k_tr,
           CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT) AS n_ev,
           CAST(SUM(CASE WHEN is_train THEN 0 ELSE bought END) AS BIGINT) AS k_ev
    FROM ud GROUP BY 1
    HAVING SUM(CASE WHEN is_train THEN 1 ELSE 0 END) > 0
       AND SUM(CASE WHEN is_train THEN 0 ELSE 1 END) > 0
),
usable AS (
    SELECT n_ev, k_ev,
           CAST(ROUND(CAST(CAST(k_tr AS DOUBLE) / n_tr AS DECIMAL(18,9)), 9)
               AS DOUBLE) AS p_hat
    FROM per_bin
    WHERE CAST(ROUND(CAST(CAST(k_tr AS DOUBLE) / n_tr AS DECIMAL(18,9)), 9)
              AS DOUBLE) > 0
      AND CAST(ROUND(CAST(CAST(k_tr AS DOUBLE) / n_tr AS DECIMAL(18,9)), 9)
              AS DOUBLE) < 1
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS g,
           CAST(SUM(CAST(ROUND(CAST(
               (k_ev - n_ev * p_hat) * (k_ev - n_ev * p_hat)
               / (n_ev * p_hat * (1.0 - p_hat))
               AS DECIMAL(18,8)), 8) AS DECIMAL(18,8))) AS DECIMAL(28,8))
               AS hl_sum
    FROM usable
),
stat AS (
    SELECT g, g - 2 AS df,
           CAST(ROUND(CAST(CAST(hl_sum AS DOUBLE) AS DECIMAL(28,8)), 6)
               AS DOUBLE) AS hl_stat
    FROM agg
)
SELECT g AS n_bins, CAST(df AS BIGINT) AS df, hl_stat,
       CASE WHEN df = 2 THEN CAST(ROUND(CAST(EXP(-hl_stat / 2.0)
           AS DECIMAL(28,8)), 6) AS DOUBLE) END AS p_value,
       CASE WHEN df = 1 THEN hl_stat > 3.841
            WHEN df = 2 THEN hl_stat > 5.991
            WHEN df = 3 THEN hl_stat > 7.815 END AS miscalibrated_5pct
FROM stat
"""


def q_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift by activity decile: the md5-split experiment's treatment
    effect measured WHERE it lives - per-decile conversion lift over
    users ranked by pre-experiment activity (total event count). The
    targeting read the single overall ab_conversion number hides: a flat
    average can be a strong effect on heavy users and nothing elsewhere,
    and the decile table is what decides who gets the treatment next
    time.

    Deciles come from ntile(10) over the exact (activity, user_id) total
    order (the decile_lift convention: deterministic tiebreak, never a
    global sort of raw events - the per-user rollup is the sorted
    relation). Conversion cells are exact integers; one snapped rate
    difference per decile; '__overall__' row alongside.

    Scale: one keyed user reduction, one window over |users| rows, one
    <=10-row rollup.
    """
    e = load_table(spark, sf_dir, "events")
    arm = char_hash32(F.col("user_id").cast("string")) % 2
    per_user = e.groupBy("user_id").agg(
        # activity EXCLUDES the outcome event: counting purchases into the
        # ranking covariate leaks the outcome into the deciles (treated
        # converters sort above control non-converters at equal usage)
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0))
        .cast("long")
        .alias("activity"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        ),
    )
    decd = per_user.select(
        "*",
        F.ntile(10)
        .over(Window.orderBy("activity", "user_id"))
        .cast("long")
        .alias("decile"),
        arm.alias("arm"),
    )
    cells = decd.groupBy("decile").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("x_t"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n_c"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("x_c"),
    )
    overall = cells.agg(
        F.lit(0).cast("long").alias("decile"),
        F.sum("n_t").cast("long").alias("n_t"),
        F.sum("x_t").cast("long").alias("x_t"),
        F.sum("n_c").cast("long").alias("n_c"),
        F.sum("x_c").cast("long").alias("x_c"),
    )
    both = cells.unionByName(overall)
    rate_t = F.when(
        F.col("n_t") > 0, F.col("x_t").cast("double") / F.col("n_t").cast("double")
    )
    rate_c = F.when(
        F.col("n_c") > 0, F.col("x_c").cast("double") / F.col("n_c").cast("double")
    )
    return both.select(
        "decile",
        "n_t",
        "x_t",
        "n_c",
        "x_c",
        snap_round(rate_t, 6).alias("rate_treated"),
        snap_round(rate_c, 6).alias("rate_control"),
        snap_round(rate_t - rate_c, 6).alias("uplift"),
    ).orderBy("decile")


UPLIFT_DECILES_SQL = """
WITH per_user AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type != 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS activity,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
    FROM events GROUP BY 1
),
decd AS (
    SELECT *,
           CAST(NTILE(10) OVER (ORDER BY activity, user_id) AS BIGINT) AS decile,
           CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 2 AS arm
    FROM per_user
),
cells AS (
    SELECT decile,
           CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
           CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS x_t,
           CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
           CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS x_c
    FROM decd GROUP BY 1
),
both_ AS (
    SELECT decile, n_t, x_t, n_c, x_c FROM cells
    UNION ALL
    SELECT CAST(0 AS BIGINT), CAST(SUM(n_t) AS BIGINT), CAST(SUM(x_t) AS BIGINT),
           CAST(SUM(n_c) AS BIGINT), CAST(SUM(x_c) AS BIGINT)
    FROM cells
)
SELECT decile, n_t, x_t, n_c, x_c,
       CAST(ROUND(CAST(CASE WHEN n_t > 0 THEN CAST(x_t AS DOUBLE) / n_t END
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS rate_treated,
       CAST(ROUND(CAST(CASE WHEN n_c > 0 THEN CAST(x_c AS DOUBLE) / n_c END
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS rate_control,
       CAST(ROUND(CAST(CASE WHEN n_t > 0 AND n_c > 0
           THEN CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c END
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS uplift
FROM both_
ORDER BY decile
"""


def q_did_placebo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Placebo test for q_diff_in_diff - the parallel-trends check the
    DiD docstring defers: re-run the SAME estimator entirely INSIDE the
    pre-period (fake treatment at the pre-period's own midpoint). If
    trends were parallel before the real split, the placebo estimate is
    ~0; a placebo rivaling the real effect says the 'effect' is just the
    groups drifting apart on their own.

    One scan: timestamps bucket into quarters of the data span,
    per-(user, quarter) purchase value aggregates once, and BOTH
    estimates assemble from the same 8 treated x quarter cells - the
    placebo from quarters (0, 1), the DiD analogue from halves
    (0+1 vs 2+3). Everything here sits at USER-QUARTER grain (the grain
    the placebo requires), so the `did` column is this query's own
    half-vs-half contrast on that grain, not bit-equal to
    q_diff_in_diff's user-half aggregate. The diagnostic flag compares
    |placebo| to |did| / 4 - the stated rule, not a p-value (the placebo
    family's convention; randomization_inference covers formal testing).
    """
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.unix_micros("ts")).alias("lo_us"),
        F.max(F.unix_micros("ts")).alias("hi_us"),
    )
    treated_users = (
        e.filter(F.col("event_type") == "click").select("user_id").distinct()
    )
    quarter = F.least(
        F.lit(3).cast("long"),
        F.floor(
            (F.unix_micros("ts") - F.col("lo_us")).cast("double")
            * 4.0
            / F.greatest((F.col("hi_us") - F.col("lo_us")).cast("double"), F.lit(1.0))
        ).cast("long"),
    )
    per_uq = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id", quarter.alias("q"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(12,2)"),
                ).otherwise(F.lit(0).cast("decimal(12,2)"))
            )
            .cast("decimal(18,2)")
            .alias("y")
        )
    )
    cells = (
        per_uq.join(
            F.broadcast(treated_users.withColumn("treated", F.lit(1))),
            "user_id",
            "left",
        )
        .groupBy(F.coalesce(F.col("treated"), F.lit(0)).alias("t"), "q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("decimal(38,2)").alias("sy"),
        )
    )

    def mean_of(t, qs):
        cond = (F.col("t") == t) & F.col("q").isin(*qs)
        return F.sum(F.when(cond, F.col("sy")).otherwise(F.lit(0))).cast(
            "double"
        ) / F.greatest(
            F.sum(F.when(cond, F.col("n")).otherwise(0)).cast("double"), F.lit(1.0)
        )

    agg = cells.agg(
        snap_round(
            (mean_of(1, [1]) - mean_of(1, [0])) - (mean_of(0, [1]) - mean_of(0, [0])),
            6,
        ).alias("placebo_did"),
        snap_round(
            (mean_of(1, [2, 3]) - mean_of(1, [0, 1]))
            - (mean_of(0, [2, 3]) - mean_of(0, [0, 1])),
            6,
        ).alias("did"),
        F.sum(F.when(F.col("t") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_treated_cells"),
    )
    return agg.select(
        "placebo_did",
        "did",
        "n_treated_cells",
        (F.abs(F.col("placebo_did")) <= F.abs(F.col("did")) / 4.0).alias(
            "pretrend_ok"
        ),
    )


DID_PLACEBO_SQL = """
WITH bounds AS (
    SELECT MIN(epoch_us(ts)) AS lo_us, MAX(epoch_us(ts)) AS hi_us FROM events
),
treated AS (
    SELECT DISTINCT user_id, 1 AS treated FROM events WHERE event_type = 'click'
),
per_uq AS (
    SELECT e.user_id,
           LEAST(3, CAST(FLOOR(
               CAST(epoch_us(e.ts) - b.lo_us AS DOUBLE) * 4.0
               / GREATEST(CAST(b.hi_us - b.lo_us AS DOUBLE), 1.0)) AS BIGINT))
               AS q,
           CAST(SUM(CASE WHEN e.event_type = 'purchase'
               THEN CAST(e.value AS DECIMAL(12,2))
               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS y
    FROM events e CROSS JOIN bounds b
    GROUP BY 1, 2
),
cells AS (
    SELECT COALESCE(t.treated, 0) AS t, p.q,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(p.y) AS DECIMAL(38,2)) AS sy
    FROM per_uq p LEFT JOIN treated t ON p.user_id = t.user_id
    GROUP BY 1, 2
),
agg AS (
    SELECT
        CAST(SUM(CASE WHEN t = 1 AND q = 1 THEN sy ELSE 0 END) AS DOUBLE)
            / GREATEST(CAST(SUM(CASE WHEN t = 1 AND q = 1 THEN n ELSE 0 END)
                AS DOUBLE), 1.0) AS t1,
        CAST(SUM(CASE WHEN t = 1 AND q = 0 THEN sy ELSE 0 END) AS DOUBLE)
            / GREATEST(CAST(SUM(CASE WHEN t = 1 AND q = 0 THEN n ELSE 0 END)
                AS DOUBLE), 1.0) AS t0,
        CAST(SUM(CASE WHEN t = 0 AND q = 1 THEN sy ELSE 0 END) AS DOUBLE)
            / GREATEST(CAST(SUM(CASE WHEN t = 0 AND q = 1 THEN n ELSE 0 END)
                AS DOUBLE), 1.0) AS c1,
        CAST(SUM(CASE WHEN t = 0 AND q = 0 THEN sy ELSE 0 END) AS DOUBLE)
            / GREATEST(CAST(SUM(CASE WHEN t = 0 AND q = 0 THEN n ELSE 0 END)
                AS DOUBLE), 1.0) AS c0,
        CAST(SUM(CASE WHEN t = 1 AND q >= 2 THEN sy ELSE 0 END) AS DOUBLE)
            / GREATEST(CAST(SUM(CASE WHEN t = 1 AND q >= 2 THEN n ELSE 0 END)
                AS DOUBLE), 1.0) AS tpost,
        CAST(SUM(CASE WHEN t = 1 AND q <= 1 THEN sy ELSE 0 END) AS DOUBLE)
            / GREATEST(CAST(SUM(CASE WHEN t = 1 AND q <= 1 THEN n ELSE 0 END)
                AS DOUBLE), 1.0) AS tpre,
        CAST(SUM(CASE WHEN t = 0 AND q >= 2 THEN sy ELSE 0 END) AS DOUBLE)
            / GREATEST(CAST(SUM(CASE WHEN t = 0 AND q >= 2 THEN n ELSE 0 END)
                AS DOUBLE), 1.0) AS cpost,
        CAST(SUM(CASE WHEN t = 0 AND q <= 1 THEN sy ELSE 0 END) AS DOUBLE)
            / GREATEST(CAST(SUM(CASE WHEN t = 0 AND q <= 1 THEN n ELSE 0 END)
                AS DOUBLE), 1.0) AS cpre,
        CAST(SUM(CASE WHEN t = 1 THEN n ELSE 0 END) AS BIGINT)
            AS n_treated_cells
    FROM cells
)
SELECT
    CAST(ROUND(CAST((t1 - t0) - (c1 - c0) AS DECIMAL(28,8)), 6) AS DOUBLE)
        AS placebo_did,
    CAST(ROUND(CAST((tpost - tpre) - (cpost - cpre) AS DECIMAL(28,8)), 6)
        AS DOUBLE) AS did,
    n_treated_cells,
    ABS(CAST(ROUND(CAST((t1 - t0) - (c1 - c0) AS DECIMAL(28,8)), 6) AS DOUBLE))
        <= ABS(CAST(ROUND(CAST((tpost - tpre) - (cpost - cpre)
        AS DECIMAL(28,8)), 6) AS DOUBLE)) / 4.0 AS pretrend_ok
FROM agg
"""
