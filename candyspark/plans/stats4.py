"""Round-5 statistical tests: ordered-alternative, stratified, and
concordance inference the earlier stats modules don't cover.

- ``cochran_armitage``   — trend in proportions across ORDERED doses
  (discount level vs return rate): the test chi2_independence can't do,
  because it spends power on non-monotone departures.
- ``jonckheere_terpstra`` — ordered-alternative rank test across the same
  dose ladder, nonparametric (no proportion model), with the FULL
  tie-corrected variance (integer quantities are almost all ties).
- ``mantel_haenszel``    — stratified 2x2 association (high discount vs
  return, stratified by customer nation): the pooled OR + CMH chi-square
  that detects an effect chi2 on the collapsed table would confound
  (Simpson's — see plans/quality.simpsons_check for the demonstration).
- ``kendall_w``          — concordance of 25 nation "judges" ranking the
  12 calendar months by revenue: do regions agree on seasonality?

Scale shape (all four): ONE pass over the fact join down to a bounded
cell grid (11 doses, 11x50 dose-quantity cells, 25 strata, 25x12 ranks),
then closed-form assembly on the tiny grid. Exactness follows the house
rules: counts stay int64/decimal through every sum (the
jonckheere cubics get decimal(38,0) — n_i^3 overflows int64 past ~2e6
rows per group, memory-trap #2), per-stratum double terms snap to decimal
BEFORE the cross-stratum sum (order-free), and each output snaps once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from candyspark.functions.numeric import snap_round
from candyspark.sources.readers import load_table


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test
# ---------------------------------------------------------------------------


def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend in return rate across the 11 ordered discount levels
    (w = cents of discount, 0..10): T = sum w_i (r_i - n_i p), Var(T) =
    p(1-p) [sum w_i^2 n_i - (sum w_i n_i)^2 / N]. Sufficient statistics
    are five exact int64 sums off one map-side-combined pass; z assembles
    in double in one textual order and snaps once."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.round(F.col("l_discount") * 100, 0).cast("long").alias("w"),
            (F.col("l_returnflag") == "R").cast("long").alias("ret"),
        )
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ret").cast("long").alias("r"),
        )
    )
    s = cells.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("r").cast("long").alias("rr"),
        F.sum(F.col("w") * F.col("r")).cast("long").alias("swr"),
        F.sum(F.col("w") * F.col("n")).cast("long").alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("n")).cast("long").alias("sw2n"),
    )
    nn = F.col("nn").cast("double")
    p = F.col("rr").cast("double") / nn
    t = F.col("swr").cast("double") - p * F.col("swn").cast("double")
    var = (
        p
        * (1.0 - p)
        * (
            F.col("sw2n").cast("double")
            - F.col("swn").cast("double") * F.col("swn").cast("double") / nn
        )
    )
    z = t / F.sqrt(var)
    return s.select(
        F.col("nn").alias("n"),
        snap_round(t, 4).alias("t_stat"),
        snap_round(z, 6).alias("z"),
        (F.abs(snap_round(z, 6)) > 1.96).alias("significant"),
    )


COCHRAN_ARMITAGE_SQL = """
WITH cells AS (
    SELECT CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS w,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r
    FROM lineitem GROUP BY 1
),
s AS (
    SELECT CAST(SUM(n) AS BIGINT) AS nn,
           CAST(SUM(r) AS BIGINT) AS rr,
           CAST(SUM(w * r) AS BIGINT) AS swr,
           CAST(SUM(w * n) AS BIGINT) AS swn,
           CAST(SUM(w * w * n) AS BIGINT) AS sw2n
    FROM cells
)
SELECT nn AS n,
       CAST(ROUND(CAST(
           CAST(swr AS DOUBLE)
           - (CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE)) * CAST(swn AS DOUBLE)
           AS DECIMAL(28,8)), 4) AS DOUBLE) AS t_stat,
       CAST(ROUND(CAST(
           (CAST(swr AS DOUBLE)
            - (CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE)) * CAST(swn AS DOUBLE))
           / SQRT((CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
                  * (1.0 - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
                  * (CAST(sw2n AS DOUBLE)
                     - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)
                       / CAST(nn AS DOUBLE)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS z,
       ABS(CAST(ROUND(CAST(
           (CAST(swr AS DOUBLE)
            - (CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE)) * CAST(swn AS DOUBLE))
           / SQRT((CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
                  * (1.0 - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
                  * (CAST(sw2n AS DOUBLE)
                     - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)
                       / CAST(nn AS DOUBLE)))
           AS DECIMAL(28,8)), 6) AS DOUBLE)) > 1.96 AS significant
FROM s
"""


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra ordered-alternative test
# ---------------------------------------------------------------------------


def q_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does quantity trend with the ordered discount dose, with NO
    proportion/linearity model? J = sum over group pairs i<j of the
    Mann-Whitney count #(x_i < x_j) + 0.5 #(x_i = x_j). The key scale
    move: with integer quantities (support 1..50) the pairwise count
    collapses onto the 11x50 CELL GRID — J assembles from cell-count
    products on ~150k bounded pairs, never from row pairs (which would be
    O(N^2) at 100 TB). 2J is kept integral (decimal) until the final
    z-assembly; the variance is the full Hollander-Wolfe tie-corrected
    form, cubics in decimal(38,0) (n_i^3 wraps int64 past ~2e6-row
    groups)."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.round(F.col("l_discount") * 100, 0).cast("long").alias("g"),
            F.round(F.col("l_quantity"), 0).cast("long").alias("v"),
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint()  # tiny (<=550 rows); feeds 3 aggregates + a pair join
    )
    a, b = cells.alias("a"), cells.alias("b")
    d19 = "decimal(19,0)"
    pair_cnt = F.col("a.cnt").cast(d19) * F.col("b.cnt").cast(d19)
    two_j = (
        a.join(b, F.col("a.g") < F.col("b.g"))
        .select(
            F.when(F.col("a.v") < F.col("b.v"), 2 * pair_cnt)
            .when(F.col("a.v") == F.col("b.v"), pair_cnt)
            .otherwise(F.lit(0).cast(d19))
            .cast("decimal(38,0)")
            .alias("contrib")
        )
        .agg(F.sum("contrib").cast("decimal(38,0)").alias("two_j"))
    )
    gsum = cells.groupBy("g").agg(F.sum("cnt").cast("long").alias("ni"))
    vsum = cells.groupBy("v").agg(F.sum("cnt").cast("long").alias("tv"))

    def _poly(col: str, prefix: str, df: DataFrame) -> DataFrame:
        c = F.col(col).cast(d19)
        return df.agg(
            F.sum(col).cast("long").alias(f"{prefix}_n"),
            F.sum((c * (c - 1)).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias(f"{prefix}_p2"),
            F.sum((c * (c - 1) * (c - 2)).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias(f"{prefix}_p3"),
            F.sum((c * (c - 1) * (2 * c + 5)).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias(f"{prefix}_w"),
            F.sum((c * c).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias(f"{prefix}_sq"),
        )
    gs = _poly("ni", "grp", gsum)
    vs = _poly("tv", "val", vsum)
    s = two_j.crossJoin(F.broadcast(gs)).crossJoin(F.broadcast(vs))
    n = F.col("grp_n").cast("double")
    e_j = (n * n - F.col("grp_sq").cast("double")) / 4.0
    var = (
        (
            n * (n - 1.0) * (2.0 * n + 5.0)
            - F.col("grp_w").cast("double")
            - F.col("val_w").cast("double")
        )
        / 72.0
        + F.col("grp_p3").cast("double")
        * F.col("val_p3").cast("double")
        / (36.0 * n * (n - 1.0) * (n - 2.0))
        + F.col("grp_p2").cast("double")
        * F.col("val_p2").cast("double")
        / (8.0 * n * (n - 1.0))
    )
    j = F.col("two_j").cast("double") / 2.0
    z = (j - e_j) / F.sqrt(var)
    return s.select(
        F.col("grp_n").alias("n"),
        snap_round(j, 1).alias("j_stat"),
        snap_round(e_j, 1).alias("e_j"),
        snap_round(z, 6).alias("z"),
        (F.abs(snap_round(z, 6)) > 1.96).alias("significant"),
    )


JONCKHEERE_TERPSTRA_SQL = """
WITH cells AS (
    SELECT CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS g,
           CAST(ROUND(l_quantity, 0) AS BIGINT) AS v,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem GROUP BY 1, 2
),
two_j AS (
    SELECT CAST(SUM(CASE WHEN a.v < b.v THEN 2 * (a.cnt * b.cnt)
                         WHEN a.v = b.v THEN a.cnt * b.cnt
                         ELSE 0 END) AS HUGEINT) AS two_j
    FROM cells a JOIN cells b ON a.g < b.g
),
gsum AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS ni FROM cells GROUP BY g),
vsum AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS tv FROM cells GROUP BY v),
gs AS (
    SELECT CAST(SUM(ni) AS BIGINT) AS grp_n,
           CAST(SUM(CAST(ni AS HUGEINT) * (ni - 1)) AS HUGEINT) AS grp_p2,
           CAST(SUM(CAST(ni AS HUGEINT) * (ni - 1) * (ni - 2)) AS HUGEINT) AS grp_p3,
           CAST(SUM(CAST(ni AS HUGEINT) * (ni - 1) * (2 * ni + 5)) AS HUGEINT) AS grp_w,
           CAST(SUM(CAST(ni AS HUGEINT) * ni) AS HUGEINT) AS grp_sq
    FROM gsum
),
vs AS (
    SELECT CAST(SUM(CAST(tv AS HUGEINT) * (tv - 1)) AS HUGEINT) AS val_p2,
           CAST(SUM(CAST(tv AS HUGEINT) * (tv - 1) * (tv - 2)) AS HUGEINT) AS val_p3,
           CAST(SUM(CAST(tv AS HUGEINT) * (tv - 1) * (2 * tv + 5)) AS HUGEINT) AS val_w
    FROM vsum
)
SELECT grp_n AS n,
       CAST(ROUND(CAST(CAST(two_j AS DOUBLE) / 2.0 AS DECIMAL(28,8)), 1)
            AS DOUBLE) AS j_stat,
       CAST(ROUND(CAST(
           (CAST(grp_n AS DOUBLE) * CAST(grp_n AS DOUBLE)
            - CAST(grp_sq AS DOUBLE)) / 4.0
           AS DECIMAL(28,8)), 1) AS DOUBLE) AS e_j,
       CAST(ROUND(CAST(
           (CAST(two_j AS DOUBLE) / 2.0
            - (CAST(grp_n AS DOUBLE) * CAST(grp_n AS DOUBLE)
               - CAST(grp_sq AS DOUBLE)) / 4.0)
           / SQRT(
               (CAST(grp_n AS DOUBLE) * (CAST(grp_n AS DOUBLE) - 1.0)
                    * (2.0 * CAST(grp_n AS DOUBLE) + 5.0)
                - CAST(grp_w AS DOUBLE) - CAST(val_w AS DOUBLE)) / 72.0
               + CAST(grp_p3 AS DOUBLE) * CAST(val_p3 AS DOUBLE)
                 / (36.0 * CAST(grp_n AS DOUBLE) * (CAST(grp_n AS DOUBLE) - 1.0)
                    * (CAST(grp_n AS DOUBLE) - 2.0))
               + CAST(grp_p2 AS DOUBLE) * CAST(val_p2 AS DOUBLE)
                 / (8.0 * CAST(grp_n AS DOUBLE) * (CAST(grp_n AS DOUBLE) - 1.0)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS z,
       ABS(CAST(ROUND(CAST(
           (CAST(two_j AS DOUBLE) / 2.0
            - (CAST(grp_n AS DOUBLE) * CAST(grp_n AS DOUBLE)
               - CAST(grp_sq AS DOUBLE)) / 4.0)
           / SQRT(
               (CAST(grp_n AS DOUBLE) * (CAST(grp_n AS DOUBLE) - 1.0)
                    * (2.0 * CAST(grp_n AS DOUBLE) + 5.0)
                - CAST(grp_w AS DOUBLE) - CAST(val_w AS DOUBLE)) / 72.0
               + CAST(grp_p3 AS DOUBLE) * CAST(val_p3 AS DOUBLE)
                 / (36.0 * CAST(grp_n AS DOUBLE) * (CAST(grp_n AS DOUBLE) - 1.0)
                    * (CAST(grp_n AS DOUBLE) - 2.0))
               + CAST(grp_p2 AS DOUBLE) * CAST(val_p2 AS DOUBLE)
                 / (8.0 * CAST(grp_n AS DOUBLE) * (CAST(grp_n AS DOUBLE) - 1.0)))
           AS DECIMAL(28,8)), 6) AS DOUBLE)) > 1.96 AS significant
FROM two_j CROSS JOIN gs CROSS JOIN vs
"""


# ---------------------------------------------------------------------------
# Mantel-Haenszel stratified 2x2
# ---------------------------------------------------------------------------


def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled odds ratio + CMH chi-square for high-discount (>= 6%) vs
    returned, stratified by the customer's nation: the stratified answer
    to 'does discounting associate with returns' that the collapsed 2x2
    would confound across regions. One fact pass (lineitem joined to its
    order's customer nation through two broadcast-sized hops) down to 25
    stratum rows of (a, b, c, d); per-stratum double terms snap to
    DECIMAL(20,9) before the cross-stratum sums so the engines' addition
    order can't matter (the forecast_metrics residual discipline)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_discount") >= 0.06).cast("long").alias("exposed"),
        (F.col("l_returnflag") == "R").cast("long").alias("ret"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    strat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.col("exposed") * F.col("ret")).cast("long").alias("a"),
            F.sum(F.col("exposed") * (1 - F.col("ret"))).cast("long").alias("b"),
            F.sum((1 - F.col("exposed")) * F.col("ret")).cast("long").alias("c"),
            F.sum((1 - F.col("exposed")) * (1 - F.col("ret"))).cast("long").alias("d"),
        )
    )
    a, b, c_, d = (F.col(x).cast("double") for x in "abcd")
    n = a + b + c_ + d

    def dec(col, scale=9):
        return F.round(col.cast("decimal(28,9)"), scale).cast("decimal(20,9)")

    terms = strat.select(
        dec(a * d / n).alias("t_ad"),
        dec(b * c_ / n).alias("t_bc"),
        F.col("a").alias("a_k"),
        dec((a + b) * (a + c_) / n).alias("e_k"),
        dec(
            (a + b) * (c_ + d) * (a + c_) * (b + d) / (n * n * (n - 1.0))
        ).alias("v_k"),
    )
    s = terms.agg(
        F.sum("t_ad").alias("s_ad"),
        F.sum("t_bc").alias("s_bc"),
        F.sum("a_k").cast("long").alias("s_a"),
        F.sum("e_k").alias("s_e"),
        F.sum("v_k").alias("s_v"),
        F.count(F.lit(1)).cast("long").alias("n_strata"),
    )
    or_mh = F.col("s_ad").cast("double") / F.col("s_bc").cast("double")
    diff = F.col("s_a").cast("double") - F.col("s_e").cast("double")
    chi2 = diff * diff / F.col("s_v").cast("double")
    return s.select(
        "n_strata",
        snap_round(or_mh, 6).alias("or_mh"),
        snap_round(chi2, 6).alias("cmh_chi2"),
        (snap_round(chi2, 6) > 3.841).alias("significant"),
    )


MANTEL_HAENSZEL_SQL = """
WITH strat AS (
    SELECT c_nationkey,
           CAST(SUM(CASE WHEN l_discount >= 0.06 AND l_returnflag = 'R'
                    THEN 1 ELSE 0 END) AS BIGINT) AS a,
           CAST(SUM(CASE WHEN l_discount >= 0.06 AND l_returnflag <> 'R'
                    THEN 1 ELSE 0 END) AS BIGINT) AS b,
           CAST(SUM(CASE WHEN l_discount < 0.06 AND l_returnflag = 'R'
                    THEN 1 ELSE 0 END) AS BIGINT) AS c,
           CAST(SUM(CASE WHEN l_discount < 0.06 AND l_returnflag <> 'R'
                    THEN 1 ELSE 0 END) AS BIGINT) AS d
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
),
terms AS (
    SELECT CAST(ROUND(CAST(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
               / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE) + CAST(c AS DOUBLE)
                  + CAST(d AS DOUBLE)) AS DECIMAL(28,9)), 9) AS DECIMAL(20,9))
               AS t_ad,
           CAST(ROUND(CAST(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
               / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE) + CAST(c AS DOUBLE)
                  + CAST(d AS DOUBLE)) AS DECIMAL(28,9)), 9) AS DECIMAL(20,9))
               AS t_bc,
           a AS a_k,
           CAST(ROUND(CAST((CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
               * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
               / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE) + CAST(c AS DOUBLE)
                  + CAST(d AS DOUBLE)) AS DECIMAL(28,9)), 9) AS DECIMAL(20,9))
               AS e_k,
           CAST(ROUND(CAST((CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
               * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
               * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
               * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE))
               / ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE) + CAST(c AS DOUBLE)
                   + CAST(d AS DOUBLE))
                  * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE) + CAST(c AS DOUBLE)
                     + CAST(d AS DOUBLE))
                  * ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE) + CAST(c AS DOUBLE)
                      + CAST(d AS DOUBLE)) - 1.0))
               AS DECIMAL(28,9)), 9) AS DECIMAL(20,9)) AS v_k
    FROM strat
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
       CAST(ROUND(CAST(CAST(SUM(t_ad) AS DOUBLE) / CAST(SUM(t_bc) AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS or_mh,
       CAST(ROUND(CAST(
           (CAST(SUM(a_k) AS DOUBLE) - CAST(SUM(e_k) AS DOUBLE))
           * (CAST(SUM(a_k) AS DOUBLE) - CAST(SUM(e_k) AS DOUBLE))
           / CAST(SUM(v_k) AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS cmh_chi2,
       CAST(ROUND(CAST(
           (CAST(SUM(a_k) AS DOUBLE) - CAST(SUM(e_k) AS DOUBLE))
           * (CAST(SUM(a_k) AS DOUBLE) - CAST(SUM(e_k) AS DOUBLE))
           / CAST(SUM(v_k) AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) > 3.841 AS significant
FROM terms
"""


# ---------------------------------------------------------------------------
# Kendall's W concordance
# ---------------------------------------------------------------------------


def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the 25 nations agree on revenue seasonality? Each nation-judge
    ranks the 12 calendar months by its customers' order revenue
    (row_number over the exact decimal total, month as the deterministic
    tiebreak); W = 12*S / (k^2 (m^3 - m)) over the rank-sum deviations S,
    with the chi-square approximation k(m-1)W. Ranks are exact integers
    so S is exact int64; one fact pass to the 25x12 grid."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.month("o_orderdate").alias("mon"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    grid = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "mon")
        .agg(F.sum("rev").alias("rev"))
    )
    w_rank = Window.partitionBy("c_nationkey").orderBy(F.desc("rev"), F.asc("mon"))
    ranked = grid.select(
        "mon", F.row_number().over(w_rank).cast("long").alias("rnk")
    )
    rsums = ranked.groupBy("mon").agg(F.sum("rnk").cast("long").alias("rsum"))
    s = rsums.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("rsum").cast("long").alias("tot"),
        F.sum(F.col("rsum") * F.col("rsum")).cast("long").alias("sq"),
    )
    m = F.col("m").cast("double")
    # k judges recovered from the totals: sum of all ranks = k*m(m+1)/2
    k = 2.0 * F.col("tot").cast("double") / (m * (m + 1.0))
    s_dev = F.col("sq").cast("double") - F.col("tot").cast("double") * F.col(
        "tot"
    ).cast("double") / m
    w = 12.0 * s_dev / (k * k * (m * m * m - m))
    chi2 = k * (m - 1.0) * w
    return s.select(
        F.col("m").alias("n_months"),
        snap_round(k, 1).alias("n_judges"),
        snap_round(w, 6).alias("kendall_w"),
        snap_round(chi2, 4).alias("chi2"),
        (snap_round(chi2, 4) > 19.675).alias("significant"),  # chi2(11), a=0.05
    )


KENDALL_W_SQL = """
WITH grid AS (
    SELECT c_nationkey, EXTRACT(month FROM o_orderdate) AS mon,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
),
ranked AS (
    SELECT mon,
           CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
                ORDER BY rev DESC, mon ASC) AS BIGINT) AS rnk
    FROM grid
),
rsums AS (SELECT mon, CAST(SUM(rnk) AS BIGINT) AS rsum FROM ranked GROUP BY mon),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(rsum) AS BIGINT) AS tot,
           CAST(SUM(rsum * rsum) AS BIGINT) AS sq
    FROM rsums
)
SELECT m AS n_months,
       CAST(ROUND(CAST(2.0 * CAST(tot AS DOUBLE)
            / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) + 1.0))
            AS DECIMAL(28,8)), 1) AS DOUBLE) AS n_judges,
       CAST(ROUND(CAST(
           12.0 * (CAST(sq AS DOUBLE)
                   - CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE) / CAST(m AS DOUBLE))
           / ((2.0 * CAST(tot AS DOUBLE)
               / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) + 1.0)))
              * (2.0 * CAST(tot AS DOUBLE)
                 / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) + 1.0)))
              * (CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
                 - CAST(m AS DOUBLE)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS kendall_w,
       CAST(ROUND(CAST(
           (2.0 * CAST(tot AS DOUBLE)
            / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) + 1.0)))
           * (CAST(m AS DOUBLE) - 1.0)
           * (12.0 * (CAST(sq AS DOUBLE)
                      - CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)
                        / CAST(m AS DOUBLE))
              / ((2.0 * CAST(tot AS DOUBLE)
                  / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) + 1.0)))
                 * (2.0 * CAST(tot AS DOUBLE)
                    / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) + 1.0)))
                 * (CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
                    - CAST(m AS DOUBLE))))
           AS DECIMAL(28,8)), 4) AS DOUBLE) AS chi2,
       CAST(ROUND(CAST(
           (2.0 * CAST(tot AS DOUBLE)
            / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) + 1.0)))
           * (CAST(m AS DOUBLE) - 1.0)
           * (12.0 * (CAST(sq AS DOUBLE)
                      - CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)
                        / CAST(m AS DOUBLE))
              / ((2.0 * CAST(tot AS DOUBLE)
                  / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) + 1.0)))
                 * (2.0 * CAST(tot AS DOUBLE)
                    / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) + 1.0)))
                 * (CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
                    - CAST(m AS DOUBLE))))
           AS DECIMAL(28,8)), 4) AS DOUBLE) > 19.675 AS significant
FROM s
"""
