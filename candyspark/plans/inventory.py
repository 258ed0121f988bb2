"""Supply-chain planning operators: ABC-XYZ classification and the
newsvendor stocking level.

The reference pipeline computes reorder points and inventory updates
(/root/reference/src/data_processor.py — the inventory_update /
reorder_points shapes); this module adds the two planning reads a candy
supply chain runs on top of that plumbing: WHICH parts deserve tight
management (ABC by revenue concentration × XYZ by demand regularity), and
HOW MUCH of a part to stock against uncertain demand (the newsvendor
critical fractile).

Determinism: revenue is exact DECIMAL money, demand is integer quantity;
cumulative shares, coefficients of variation and fractile lookups assemble
from exact sums with a single snapped division per boundary comparison —
class assignment happens on SNAPPED values so both engines put every part
in the same cell. Zero-demand weeks enter the XYZ variance WITHOUT a
calendar-spine join (the moments over all W weeks are Σx, Σx² over the
nonzero weeks with W in the denominators — zeros contribute nothing to
either sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from candyspark.functions.numeric import money, snap_round
from candyspark.sources.readers import load_table


def q_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ planning matrix over brands: ABC = revenue-concentration
    class from the cumulative discounted-revenue share BEFORE the brand
    (A: enters under 70%, B: under 90%, C: rest - so a single dominant
    item is A, not C), XYZ =
    demand-regularity class from the coefficient of variation of WEEKLY
    demand including zero weeks (X < 0.5 steady, Y < 1.0 variable,
    Z >= 1.0 sporadic). AX cells get tight service levels, CZ cells get
    make-to-order - the standard two-axis planning read.

    Brand is the grain a candy planner stocks at; part grain on this
    corpus is ~8% weekly activity, which puts EVERY sku in Z and makes
    the X/Y branches dead code (the vacuous-gate lesson from round 2) -
    the planted tests pin all three XYZ branches on synthetic demand.

    Zero weeks need no calendar spine: with W the global week count,
    mean = Sx/W and var = Sx2/W - mean^2 are exact over all W weeks
    because zero weeks add nothing to either sum - one keyed aggregate
    per brand, broadcast W. The ABC rank is a window over the <=|brands|
    rollup, never over line items; boundaries compare SNAPPED shares so
    both engines classify identically.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = money("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    lines = li.join(
        p.select("p_partkey", "p_brand"), li["l_partkey"] == p["p_partkey"]
    ).select(
        F.col("p_brand").alias("brand"),
        rev.alias("rev"),
        F.date_trunc("week", F.col("l_shipdate")).cast("date").alias("wk"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    # ONE pass over the fact table to the brands x weeks cell relation
    # (bounded at any SF); checkpointed so revenue, the week count and the
    # demand moments all derive from it without re-scanning lineitem
    cells = (
        lines.groupBy("brand", "wk")
        .agg(
            F.sum("rev").cast("decimal(38,4)").alias("rev"),
            F.sum("q").cast("long").alias("demand"),
        )
        .localCheckpoint()
    )
    per_brand = cells.groupBy("brand").agg(
        F.sum("rev").cast("decimal(38,4)").alias("revenue")
    )
    weeks = cells.agg(F.countDistinct("wk").cast("long").alias("w_total"))
    weekly = cells.groupBy("brand").agg(
        F.sum("demand").cast("long").alias("sum_d"),
        F.sum(
            F.col("demand").cast("decimal(38,0)")
            * F.col("demand").cast("decimal(38,0)")
        ).alias("sum_d2"),
    )
    # classify on the cumulative share BEFORE the item: the conventional
    # cum <= 0.7 rule throws a single dominant item (cum ~ 1.0 at rank 1)
    # into C, inverting the whole point of ABC
    w_before = Window.orderBy(F.desc("revenue"), "brand").rowsBetween(
        Window.unboundedPreceding, -1
    )
    whole = Window.partitionBy()
    abc = per_brand.select(
        "brand",
        "revenue",
        snap_round(
            F.coalesce(
                F.sum("revenue").over(w_before), F.lit(0).cast("decimal(38,4)")
            ).cast("double")
            / F.sum("revenue").over(whole).cast("double"),
            8,
        ).alias("cum_before"),
    ).select(
        "brand",
        "revenue",
        F.when(F.col("cum_before") < 0.7, "A")
        .when(F.col("cum_before") < 0.9, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    xyz = weekly.crossJoin(F.broadcast(weeks)).select(
        "brand",
        snap_round(
            F.sqrt(
                F.greatest(
                    F.lit(0.0),
                    F.col("sum_d2").cast("double")
                    / F.col("w_total").cast("double")
                    - (
                        F.col("sum_d").cast("double")
                        / F.col("w_total").cast("double")
                    )
                    * (
                        F.col("sum_d").cast("double")
                        / F.col("w_total").cast("double")
                    ),
                )
            )
            / (F.col("sum_d").cast("double") / F.col("w_total").cast("double")),
            6,
        ).alias("cv"),
    ).select(
        "brand",
        F.when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    joined = abc.join(xyz, "brand")
    total_rev = joined.agg(F.sum("revenue").alias("tr"))
    return (
        joined.groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_brands"),
            F.sum("revenue").cast("decimal(38,4)").alias("cell_rev"),
        )
        .crossJoin(F.broadcast(total_rev))
        .select(
            "abc_class",
            "xyz_class",
            "n_brands",
            snap_round(
                F.col("cell_rev").cast("double") / F.col("tr").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class", "xyz_class")
    )


ABC_XYZ_SQL = """
WITH lines AS (
    SELECT p.p_brand AS brand,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
               AS rev,
           CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
           CAST(l_quantity AS BIGINT) AS q
    FROM lineitem li JOIN part p ON li.l_partkey = p.p_partkey
),
cells AS (
    SELECT brand, wk,
           CAST(SUM(rev) AS DECIMAL(38,4)) AS rev,
           CAST(SUM(q) AS BIGINT) AS demand
    FROM lines GROUP BY 1, 2
),
per_brand AS (
    SELECT brand, CAST(SUM(rev) AS DECIMAL(38,4)) AS revenue
    FROM cells GROUP BY 1
),
weeks AS (SELECT CAST(COUNT(DISTINCT wk) AS BIGINT) AS w_total FROM cells),
weekly AS (
    SELECT brand,
           CAST(SUM(demand) AS BIGINT) AS sum_d,
           SUM(CAST(demand AS DECIMAL(38,0)) * demand) AS sum_d2
    FROM cells GROUP BY 1
),
abc AS (
    SELECT brand, revenue,
           CASE WHEN cum_before < 0.7 THEN 'A'
                WHEN cum_before < 0.9 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM (
        SELECT brand, revenue,
               CAST(ROUND(CAST(
                   CAST(COALESCE(SUM(revenue) OVER (ORDER BY revenue DESC, brand
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       CAST(0 AS DECIMAL(38,4))) AS DOUBLE)
                   / CAST(SUM(revenue) OVER () AS DOUBLE)
                   AS DECIMAL(28,8)), 8) AS DOUBLE) AS cum_before
        FROM per_brand
    )
),
xyz AS (
    SELECT brand,
           CASE WHEN cv < 0.5 THEN 'X'
                WHEN cv < 1.0 THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM (
        SELECT brand,
               CAST(ROUND(CAST(
                   SQRT(GREATEST(0.0,
                       CAST(sum_d2 AS DOUBLE) / w_total
                       - (CAST(sum_d AS DOUBLE) / w_total)
                         * (CAST(sum_d AS DOUBLE) / w_total)))
                   / (CAST(sum_d AS DOUBLE) / w_total)
                   AS DECIMAL(28,8)), 6) AS DOUBLE) AS cv
        FROM weekly CROSS JOIN weeks
    )
),
joined AS (
    SELECT a.brand, a.revenue, a.abc_class, x.xyz_class
    FROM abc a JOIN xyz x ON a.brand = x.brand
)
SELECT abc_class, xyz_class,
       CAST(COUNT(*) AS BIGINT) AS n_brands,
       CAST(ROUND(CAST(
           CAST(SUM(revenue) AS DOUBLE)
           / CAST((SELECT SUM(revenue) FROM joined) AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS revenue_share
FROM joined
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q_newsvendor_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stocking level per brand: the profit-maximizing daily
    stock for perishable candy is the critical fractile of daily demand,
    q* = F⁻¹(cu/(cu+co)) — with understock cost 4× overstock (the candy
    margin structure) the 0.8-quantile of the brand's ACTIVE-day demand
    distribution. The decision-theoretic companion to reorder_points'
    service-level heuristic.

    The fractile comes from the cumulative-count rule on the per-(brand,
    day) integer demand relation (percentile_disc semantics: smallest d
    with cum ≥ ⌈0.8·n⌉ — the mood_median idiom per group, exact integer
    comparisons only). Expected shortfall at q* is one more pass over
    the same bounded relation: mean of (demand − q*)⁺, exact integer
    sums, one snapped division.

    At 100 TB: the per-(brand, day) relation is brands × calendar
    bounded; the window is keyed by brand. Demand on active days only —
    stocking decisions ride selling-day demand; the zero-day share ships
    alongside so the reader sees the intermittency.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    daily = (
        li.join(p.select("p_partkey", "p_brand"), li["l_partkey"] == p["p_partkey"])
        .select(
            F.col("p_brand").alias("brand"),
            F.col("l_shipdate").alias("d"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("brand", "d")
        .agg(F.sum("q").cast("long").alias("demand"))
    )
    w_cum = Window.partitionBy("brand").orderBy("demand", "d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy("brand")
    ranked = daily.select(
        "brand",
        "demand",
        F.count(F.lit(1)).over(w_cum).cast("long").alias("cum"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    qstar = (
        ranked.filter(F.col("cum") * 5 >= F.col("n") * 4)  # cum >= 0.8 n
        .groupBy("brand", "n")
        .agg(F.min("demand").cast("long").alias("stock_q80"))
    )
    out = (
        daily.join(qstar, "brand")
        .groupBy("brand", "n", "stock_q80")
        .agg(
            F.sum("demand").cast("long").alias("total_demand"),
            F.sum(
                F.when(
                    F.col("demand") > F.col("stock_q80"),
                    F.col("demand") - F.col("stock_q80"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("short_units"),
            F.sum(F.when(F.col("demand") <= F.col("stock_q80"), 1).otherwise(0))
            .cast("long")
            .alias("covered_days"),
        )
    )
    return out.select(
        "brand",
        F.col("n").alias("active_days"),
        snap_round(
            F.col("total_demand").cast("double") / F.col("n").cast("double"), 4
        ).alias("mean_daily_demand"),
        "stock_q80",
        snap_round(
            F.col("covered_days").cast("double") / F.col("n").cast("double"), 6
        ).alias("service_level"),
        snap_round(
            F.col("short_units").cast("double") / F.col("n").cast("double"), 4
        ).alias("expected_daily_shortfall"),
    ).orderBy("brand")


NEWSVENDOR_STOCK_SQL = """
WITH daily AS (
    SELECT p.p_brand AS brand, l_shipdate AS d,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS demand
    FROM lineitem li JOIN part p ON li.l_partkey = p.p_partkey
    GROUP BY 1, 2
),
ranked AS (
    SELECT brand, demand,
           CAST(COUNT(*) OVER (PARTITION BY brand ORDER BY demand, d
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           CAST(COUNT(*) OVER (PARTITION BY brand) AS BIGINT) AS n
    FROM daily
),
qstar AS (
    SELECT brand, n, CAST(MIN(demand) AS BIGINT) AS stock_q80
    FROM ranked WHERE cum * 5 >= n * 4
    GROUP BY 1, 2
),
out_ AS (
    SELECT d.brand, q.n, q.stock_q80,
           CAST(SUM(d.demand) AS BIGINT) AS total_demand,
           CAST(SUM(CASE WHEN d.demand > q.stock_q80
               THEN d.demand - q.stock_q80 ELSE 0 END) AS BIGINT) AS short_units,
           CAST(SUM(CASE WHEN d.demand <= q.stock_q80 THEN 1 ELSE 0 END)
               AS BIGINT) AS covered_days
    FROM daily d JOIN qstar q ON d.brand = q.brand
    GROUP BY 1, 2, 3
)
SELECT brand,
       n AS active_days,
       CAST(ROUND(CAST(CAST(total_demand AS DOUBLE) / n AS DECIMAL(28,8)), 4)
           AS DOUBLE) AS mean_daily_demand,
       stock_q80,
       CAST(ROUND(CAST(CAST(covered_days AS DOUBLE) / n AS DECIMAL(28,8)), 6)
           AS DOUBLE) AS service_level,
       CAST(ROUND(CAST(CAST(short_units AS DOUBLE) / n AS DECIMAL(28,8)), 4)
           AS DOUBLE) AS expected_daily_shortfall
FROM out_
ORDER BY brand
"""


def q_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of the newsvendor stock levels: scores the
    q80 stocking rule against the cost structure it was derived for
    (understock 4x overstock, tau = 0.8) - and against the MEAN-demand
    stocking rule a naive planner uses. The 0.8-quantile minimizes
    pinball at tau = 0.8 over any constant level, so q80 must win; HOW
    MUCH it wins by is the economic value of carrying the quantile.

    L(s) = mean over active days of [0.8*(d-s)+ + 0.2*(s-d)+]. The q80
    level and daily demands are exact integers, so its loss terms are
    exact decimal; the mean level is a 4-dp-snapped double whose loss
    terms snap per day before the exact sum (the cross-engine rule).

    Scale: the newsvendor posture - one brands x days aggregate, one
    keyed window, two loss rollups over the same bounded relation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    daily = (
        li.join(p.select("p_partkey", "p_brand"), li["l_partkey"] == p["p_partkey"])
        .select(
            F.col("p_brand").alias("brand"),
            F.col("l_shipdate").alias("d"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("brand", "d")
        .agg(F.sum("q").cast("long").alias("demand"))
        .localCheckpoint()  # fractile, mean and both loss passes reuse it
    )
    w_cum = Window.partitionBy("brand").orderBy("demand", "d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy("brand")
    ranked = daily.select(
        "brand",
        "demand",
        F.count(F.lit(1)).over(w_cum).cast("long").alias("cum"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    qstar = (
        ranked.filter(F.col("cum") * 5 >= F.col("n") * 4)
        .groupBy("brand", "n")
        .agg(F.min("demand").cast("long").alias("s_q80"))
    )
    means = daily.groupBy("brand").agg(
        F.round(
            (F.sum("demand").cast("double") / F.count(F.lit(1)).cast("double")).cast(
                "decimal(18,4)"
            ),
            4,
        )
        .cast("double")
        .alias("s_mean")
    )
    joined = daily.join(qstar, "brand").join(means, "brand")
    loss_q = (
        F.lit(8).cast("decimal(18,1)")
        * F.greatest(F.col("demand") - F.col("s_q80"), F.lit(0)).cast("decimal(18,1)")
        + F.lit(2).cast("decimal(18,1)")
        * F.greatest(F.col("s_q80") - F.col("demand"), F.lit(0)).cast("decimal(18,1)")
    ).cast("decimal(20,1)")  # x10 to stay integer-exact (0.8/0.2 weights)
    loss_m = F.round(
        (
            0.8 * F.greatest(F.col("demand").cast("double") - F.col("s_mean"), F.lit(0.0))
            + 0.2 * F.greatest(F.col("s_mean") - F.col("demand").cast("double"), F.lit(0.0))
        ).cast("decimal(18,4)"),
        4,
    ).cast("decimal(18,4)")
    agg = joined.groupBy("brand", "n", "s_q80", "s_mean").agg(
        F.sum(loss_q).cast("decimal(38,1)").alias("lq10"),
        F.sum(loss_m).cast("decimal(38,4)").alias("lm"),
    )
    pin_q = snap_round(
        F.col("lq10").cast("double") / (10.0 * F.col("n").cast("double")), 6
    )
    pin_m = snap_round(F.col("lm").cast("double") / F.col("n").cast("double"), 6)
    return agg.select(
        "brand",
        F.col("n").alias("active_days"),
        "s_q80",
        F.col("s_mean").alias("s_mean"),
        pin_q.alias("pinball_q80"),
        pin_m.alias("pinball_mean"),
        (pin_q <= pin_m).alias("quantile_rule_wins"),
    ).orderBy("brand")


PINBALL_LOSS_SQL = """
WITH daily AS (
    SELECT p.p_brand AS brand, l_shipdate AS d,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS demand
    FROM lineitem li JOIN part p ON li.l_partkey = p.p_partkey
    GROUP BY 1, 2
),
ranked AS (
    SELECT brand, demand,
           CAST(COUNT(*) OVER (PARTITION BY brand ORDER BY demand, d
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           CAST(COUNT(*) OVER (PARTITION BY brand) AS BIGINT) AS n
    FROM daily
),
qstar AS (
    SELECT brand, n, CAST(MIN(demand) AS BIGINT) AS s_q80
    FROM ranked WHERE cum * 5 >= n * 4
    GROUP BY 1, 2
),
means AS (
    SELECT brand,
           CAST(ROUND(CAST(CAST(SUM(demand) AS DOUBLE) / COUNT(*)
               AS DECIMAL(18,4)), 4) AS DOUBLE) AS s_mean
    FROM daily GROUP BY 1
),
agg AS (
    SELECT d.brand, q.n, q.s_q80, m.s_mean,
           CAST(SUM(CAST(8 AS DECIMAL(18,1))
                    * CAST(GREATEST(d.demand - q.s_q80, 0) AS DECIMAL(18,1))
                  + CAST(2 AS DECIMAL(18,1))
                    * CAST(GREATEST(q.s_q80 - d.demand, 0) AS DECIMAL(18,1)))
               AS DECIMAL(38,1)) AS lq10,
           CAST(SUM(CAST(ROUND(CAST(
               0.8 * GREATEST(CAST(d.demand AS DOUBLE) - m.s_mean, 0.0)
               + 0.2 * GREATEST(m.s_mean - CAST(d.demand AS DOUBLE), 0.0)
               AS DECIMAL(18,4)), 4) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS lm
    FROM daily d JOIN qstar q ON d.brand = q.brand
    JOIN means m ON d.brand = m.brand
    GROUP BY 1, 2, 3, 4
)
SELECT brand, n AS active_days, s_q80, s_mean,
       CAST(ROUND(CAST(CAST(lq10 AS DOUBLE) / (10.0 * n)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS pinball_q80,
       CAST(ROUND(CAST(CAST(lm AS DOUBLE) / n
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS pinball_mean,
       CAST(ROUND(CAST(CAST(lq10 AS DOUBLE) / (10.0 * n)
           AS DECIMAL(28,8)), 6) AS DOUBLE)
           <= CAST(ROUND(CAST(CAST(lm AS DOUBLE) / n
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS quantile_rule_wins
FROM agg
ORDER BY brand
"""
