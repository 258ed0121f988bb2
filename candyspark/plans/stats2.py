"""Round-3 statistics additions: distribution-shape tests and effect sizes.

The reference engine ships no statistics beyond COUNT/SUM/AVG
(`/root/reference/src/data_processor.py` aggregates only); this module
continues the extension family (quality.py's hypothesis tests) with the
remaining standard two-sample / k-sample diagnostics a data pipeline runs
before trusting a metric shift: Kolmogorov-Smirnov (distribution equality),
Bartlett (variance homogeneity — the ANOVA precondition), Wald-Wolfowitz
runs (serial randomness), and the effect-size panel (Cohen's d, Cliff's
delta, Vargha-Delaney A) that turns "significant" into "how big".

Determinism discipline (shared with quality.py): every statistic assembles
from EXACT integer/decimal aggregates (bounded-support per-value counts,
decimal power sums) so both engines feed the identical closed-form double
expression identical inputs; the final double snaps through a wide decimal
(`snap_round`) to absorb last-ulp conversion differences.

Scale posture: KS and the effect sizes ride the bounded-support midrank
trick (l_discount: 11 values, l_quantity: 50 values — the corpus collapses
to a ≤50-row per-value aggregate, map-side combined; no global sort ever
happens). Bartlett is one grouped power-sum pass. The runs test operates on
the DERIVED daily series (one keyed aggregate over orders, then windows on
~thousands of day rows — a driver-bounded relation by construction, same
posture as the acf/pacf family in plans/analytics.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from candyspark.functions.numeric import snap_round
from candyspark.plans.candy import line_fit, line_fit_sql, line_sums, line_sums_sql
from candyspark.plans.analytics import (
    CENTRED_SERIES_SQL,
    centred_series,
    daily_revenue,
    daily_revenue_sql,
    lag_sums,
    snap_term,
)
from candyspark.sources.readers import load_table


# --- the returned-vs-kept split ----------------------------------------------


def returned_vs_kept(
    li: DataFrame, v: Column, *aggs: Column, **cols: Column
) -> DataFrame:
    """``(v, na_v, nb_v, *aggs)``: lineitem collapsed to one row per value
    ``v`` with its returned ('R', sample a) and kept (sample b) counts —
    the two-sample tests' bounded-support posture. l_quantity (50 integer
    values) or the discount in cents (11) collapse the table to ≤50 rows
    in one map-side-combined aggregate, so every rank and ECDF statistic
    after it is a window over that tiny relation, never a distributed
    sort. ``aggs`` are further per-value aggregates; they read ``is_a``
    and the projected ``cols``."""
    return (
        li.select(
            v.alias("v"),
            (F.col("l_returnflag") == "R").alias("is_a"),
            *(c.alias(k) for k, c in cols.items()),
        )
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("na_v"),
            F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("long").alias("nb_v"),
            *aggs,
        )
    )


def split_cums(per_v: DataFrame, *cols: Column | str) -> DataFrame:
    """``(*cols, ca, cb)``: the cumulative returned and kept counts in
    value order — both ECDFs on the pooled support, as exact integers."""
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    return per_v.select(
        *cols, F.sum("na_v").over(w).alias("ca"), F.sum("nb_v").over(w).alias("cb")
    )


def split_totals(per_v: DataFrame, *aggs: Column) -> DataFrame:
    """One row ``(n_a, n_b, *aggs)``: the two sample sizes."""
    return per_v.agg(
        F.sum("na_v").cast("long").alias("n_a"),
        F.sum("nb_v").cast("long").alias("n_b"),
        *aggs,
    )


def doubled_midrank() -> Column:
    """R2(v) = 2·|{x < v}| + n(v) + 1 over :func:`returned_vs_kept`: the
    DOUBLED midrank stays an exact int64 (the halves vanish, the
    spearman_orders_revenue trick), so 2·U = Σ n_a(v)·R2(v) − n_a(n_a+1)
    is exact integer algebra end to end."""
    before = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    n_v = F.col("na_v") + F.col("nb_v")
    return 2 * F.coalesce(F.sum(n_v).over(before), F.lit(0)) + n_v + 1


def split_sql(v: str, *aggs: str) -> str:
    """The oracle's ``per_v`` CTE (:func:`returned_vs_kept`)."""
    extra = "".join(f",\n           {a}" for a in aggs)
    return f"""per_v AS (
    SELECT {v} AS v,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS na_v,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT) AS nb_v{extra}
    FROM lineitem GROUP BY 1
)"""


#: The per-value split's ``cums`` (:func:`split_cums`, with ``l = n(v)``)
#: and ``totals`` (:func:`split_totals`) CTEs.
SPLIT_CUMS_SQL = """cums AS (
    SELECT v, na_v + nb_v AS l,
           SUM(na_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
           SUM(nb_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
    FROM per_v
)"""
SPLIT_TOTALS_SQL = """totals AS (
    SELECT CAST(SUM(na_v) AS BIGINT) AS n_a, CAST(SUM(nb_v) AS BIGINT) AS n_b
    FROM per_v
)"""
#: :func:`doubled_midrank` over ``per_v``.
MIDRANK2_SQL = """2 * COALESCE(SUM(na_v + nb_v) OVER
               (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (na_v + nb_v) + 1"""


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov: do returned ('R') line items draw
    their discounts from the same distribution as kept ones? KS reads the
    WHOLE CDF (location + spread + shape), complementing mann_whitney
    (location only) and bartlett_test (spread only).

    The discount support is bounded (TPC-H: 11 cent values), so both
    ECDFs collapse to one ≤11-row per-value aggregate and the supremum
    gap is an exact-integer argmax: D·n_a·n_b = max_v |cumA(v)·n_b −
    cumB(v)·n_a| — no float ever enters the statistic. The asymptotic
    p-value (Kolmogorov distribution, 8-term alternating series with the
    Stephens small-sample correction) is ONE closed-form double
    expression on the snapped λ, identical in both engines.

    At 100 TB: one map-side-combined aggregate to ≤11 rows, then
    constant-size algebra — the distributed sort a textbook ECDF
    implementation pays never happens.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_v = returned_vs_kept(li, F.round(F.col("l_discount") * 100, 0).cast("long"))
    cums = split_cums(per_v)
    totals = split_totals(per_v)
    gaps = cums.crossJoin(F.broadcast(totals)).select(
        "n_a",
        "n_b",
        F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")).alias("gap"),
    )
    top = gaps.groupBy("n_a", "n_b").agg(F.max("gap").cast("long").alias("d_int"))
    d = F.col("d_int").cast("double") / (F.col("n_a") * F.col("n_b")).cast("double")
    ne = (F.col("n_a") * F.col("n_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    lam_raw = (F.sqrt(ne) + 0.12 + 0.11 / F.sqrt(ne)) * d
    lam = snap_round(lam_raw, 6)
    l2 = lam * lam
    p_raw = 2.0 * (
        F.exp(-2.0 * l2)
        - F.exp(-8.0 * l2)
        + F.exp(-18.0 * l2)
        - F.exp(-32.0 * l2)
        + F.exp(-50.0 * l2)
        - F.exp(-72.0 * l2)
        + F.exp(-98.0 * l2)
        - F.exp(-128.0 * l2)
    )
    # the 8-term alternating series needs λ ≳ 0.2 to converge; below that
    # the true Kolmogorov survival is 1 to 3+ decimals (Q(0.2) ≈ 0.9999)
    p = F.when(lam < 0.2, F.lit(1.0)).otherwise(F.least(F.lit(1.0), p_raw))
    return top.select(
        "n_a",
        "n_b",
        snap_round(d, 6).alias("d_stat"),
        lam.alias("lambda_ks"),
        snap_round(p, 6).alias("p_value"),
        (snap_round(p, 6) < 0.05).alias("significant"),
    )


KS_TEST_SQL = f"""
WITH {split_sql("CAST(ROUND(l_discount * 100, 0) AS BIGINT)")},
{SPLIT_CUMS_SQL},
{SPLIT_TOTALS_SQL},
top AS (
    SELECT n_a, n_b, CAST(MAX(ABS(ca * n_b - cb * n_a)) AS BIGINT) AS d_int
    FROM cums CROSS JOIN totals
    GROUP BY n_a, n_b
),
stat AS (
    SELECT n_a, n_b,
           CAST(d_int AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS d,
           CAST(ROUND(CAST(
               (SQRT(CAST(n_a * n_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                + 0.12
                + 0.11 / SQRT(CAST(n_a * n_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)))
               * (CAST(d_int AS DOUBLE) / CAST(n_a * n_b AS DOUBLE))
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS lam
    FROM top
)
SELECT n_a, n_b,
       CAST(ROUND(CAST(d AS DECIMAL(28,8)), 6) AS DOUBLE) AS d_stat,
       lam AS lambda_ks,
       CAST(ROUND(CAST(CASE WHEN lam < 0.2 THEN 1.0 ELSE LEAST(1.0,
           2.0 * (EXP(-2.0 * lam * lam) - EXP(-8.0 * lam * lam)
                  + EXP(-18.0 * lam * lam) - EXP(-32.0 * lam * lam)
                  + EXP(-50.0 * lam * lam) - EXP(-72.0 * lam * lam)
                  + EXP(-98.0 * lam * lam) - EXP(-128.0 * lam * lam))) END
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS p_value,
       CAST(ROUND(CAST(CASE WHEN lam < 0.2 THEN 1.0 ELSE LEAST(1.0,
           2.0 * (EXP(-2.0 * lam * lam) - EXP(-8.0 * lam * lam)
                  + EXP(-18.0 * lam * lam) - EXP(-32.0 * lam * lam)
                  + EXP(-50.0 * lam * lam) - EXP(-72.0 * lam * lam)
                  + EXP(-98.0 * lam * lam) - EXP(-128.0 * lam * lam))) END
           AS DECIMAL(28,8)), 6) AS DOUBLE) < 0.05 AS significant
FROM stat
"""


def q_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of variance homogeneity for l_extendedprice across
    the three return flags — the precondition check for pooled-variance
    methods (anova_oneway assumes it; brown_forsythe is the robust
    cousin, this is the exact-normal-theory one).

    Per-group variances come from exact DECIMAL power sums (the
    stats_moments discipline), each snapped to DECIMAL(28,8) BEFORE the
    cross-group sums so Σ(n_i−1)s_i² and Σ(n_i−1)ln s_i² are exact
    decimal algebra — order-independent on both engines regardless of
    how the 3 group rows arrive. k=3 ⇒ df=2, so the χ² survival
    function is the closed form exp(−T/2): no CDF machinery needed.

    At 100 TB: one map-side-combined grouped power-sum pass; everything
    after is 3-row algebra.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast("decimal(12,2)")
    per_g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    n_i = F.col("n_i").cast("double")
    var_raw = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double") / n_i
    ) / (n_i - 1.0)
    snapped = per_g.select(
        "n_i",
        F.round(var_raw.cast("decimal(28,8)"), 8).alias("v_i"),
        F.round(F.log(F.round(var_raw.cast("decimal(28,8)"), 8).cast("double"))
                .cast("decimal(18,9)"), 9).alias("ln_v_i"),
        F.round((1.0 / (n_i - 1.0)).cast("decimal(20,15)"), 15).alias("inv_df_i"),
    )
    sums = snapped.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_i").cast("long").alias("n_total"),
        F.sum((F.col("n_i") - 1) * F.col("v_i")).alias("pooled_num"),
        F.sum((F.col("n_i") - 1).cast("decimal(18,0)") * F.col("ln_v_i")).alias(
            "sum_df_lnv"
        ),
        F.sum("inv_df_i").alias("sum_inv_df"),
    )
    nk = (F.col("n_total") - F.col("k")).cast("double")
    ln_vp = F.log(F.col("pooled_num").cast("double") / nk)
    c = 1.0 + (
        F.col("sum_inv_df").cast("double") - 1.0 / nk
    ) / (3.0 * (F.col("k").cast("double") - 1.0))
    t = (nk * ln_vp - F.col("sum_df_lnv").cast("double")) / c
    p = F.exp(-snap_round(t, 6) / 2.0)
    return sums.select(
        "k",
        "n_total",
        snap_round(t, 6).alias("bartlett_t"),
        snap_round(p, 6).alias("p_value"),
        (snap_round(p, 6) < 0.05).alias("significant"),
    )


BARTLETT_TEST_SQL = """
WITH per_g AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_i,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sx,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxx
    FROM lineitem
    GROUP BY l_returnflag
),
snapped AS (
    SELECT n_i,
           ROUND(CAST(
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                / CAST(n_i AS DOUBLE)) / (CAST(n_i AS DOUBLE) - 1.0)
               AS DECIMAL(28,8)), 8) AS v_i,
           ROUND(CAST(LN(CAST(ROUND(CAST(
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                / CAST(n_i AS DOUBLE)) / (CAST(n_i AS DOUBLE) - 1.0)
               AS DECIMAL(28,8)), 8) AS DOUBLE)) AS DECIMAL(18,9)), 9) AS ln_v_i,
           ROUND(CAST(1.0 / (CAST(n_i AS DOUBLE) - 1.0) AS DECIMAL(20,15)), 15)
               AS inv_df_i
    FROM per_g
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(n_i) AS BIGINT) AS n_total,
           SUM((n_i - 1) * v_i) AS pooled_num,
           SUM(CAST(n_i - 1 AS DECIMAL(18,0)) * ln_v_i) AS sum_df_lnv,
           SUM(inv_df_i) AS sum_inv_df
    FROM snapped
)
SELECT k, n_total,
       CAST(ROUND(CAST(
           (CAST(n_total - k AS DOUBLE)
            * LN(CAST(pooled_num AS DOUBLE) / CAST(n_total - k AS DOUBLE))
            - CAST(sum_df_lnv AS DOUBLE))
           / (1.0 + (CAST(sum_inv_df AS DOUBLE) - 1.0 / CAST(n_total - k AS DOUBLE))
                    / (3.0 * (CAST(k AS DOUBLE) - 1.0)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS bartlett_t,
       CAST(ROUND(CAST(EXP(-CAST(ROUND(CAST(
           (CAST(n_total - k AS DOUBLE)
            * LN(CAST(pooled_num AS DOUBLE) / CAST(n_total - k AS DOUBLE))
            - CAST(sum_df_lnv AS DOUBLE))
           / (1.0 + (CAST(sum_inv_df AS DOUBLE) - 1.0 / CAST(n_total - k AS DOUBLE))
                    / (3.0 * (CAST(k AS DOUBLE) - 1.0)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) / 2.0) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS p_value,
       CAST(ROUND(CAST(EXP(-CAST(ROUND(CAST(
           (CAST(n_total - k AS DOUBLE)
            * LN(CAST(pooled_num AS DOUBLE) / CAST(n_total - k AS DOUBLE))
            - CAST(sum_df_lnv AS DOUBLE))
           / (1.0 + (CAST(sum_inv_df AS DOUBLE) - 1.0 / CAST(n_total - k AS DOUBLE))
                    / (3.0 * (CAST(k AS DOUBLE) - 1.0)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) / 2.0) AS DECIMAL(28,8)), 6) AS DOUBLE)
           < 0.05 AS significant
FROM sums
"""


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for serial randomness of daily order
    revenue: too FEW runs of above/below-median days means momentum
    (trending), too MANY means oscillation — either breaks the i.i.d.
    assumption behind the bootstrap/CI queries. Complements
    mann_kendall (monotone trend only) by catching any serial pattern.

    The daily series is one keyed decimal aggregate (exact, order-free);
    the exact median comes from the two middle order statistics of that
    DERIVED ~thousands-row relation (decimal average — no float). Days
    equal to the median drop (the standard treatment); the run count is
    one lag window over the date order, and the z-score is closed-form
    integer algebra.

    Scale: the windows run on the day-count-bounded derived series, not
    the fact table (the acf_daily_revenue posture) — one shuffle to
    days, then single-digit-KB windows.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev"))
    )
    wv = Window.orderBy("rev", "d")
    ranked = daily.select(
        "d", "rev", F.row_number().over(wv).alias("rk"), F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("n_days")
    )
    med = ranked.filter(
        (F.col("rk") == F.floor((F.col("n_days") + 1) / 2))
        | (F.col("rk") == F.floor((F.col("n_days") + 2) / 2))
    ).agg((F.sum("rev") / F.count(F.lit(1))).cast("decimal(18,6)").alias("med"))
    signed = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("rev").cast("decimal(18,6)") != F.col("med"))
        .select(
            "d",
            F.when(F.col("rev").cast("decimal(18,6)") > F.col("med"), 1)
            .otherwise(-1)
            .alias("s"),
        )
    )
    wd = Window.orderBy("d")
    flips = signed.select(
        "s",
        F.when(F.lag("s").over(wd).isNull() | (F.lag("s").over(wd) != F.col("s")), 1)
        .otherwise(0)
        .alias("new_run"),
    )
    sums = flips.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).cast("long").alias("n_above"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).cast("long").alias("n_below"),
        F.sum("new_run").cast("long").alias("runs"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    # one-sided sign sets (n1·n2 = 0) have zero run variance — z undefined
    z = F.when(var > 0, (F.col("runs").cast("double") - mu) / F.sqrt(var))
    return sums.select(
        "n_above",
        "n_below",
        "runs",
        snap_round(mu, 6).alias("expected_runs"),
        snap_round(z, 6).alias("z"),
        F.coalesce(F.abs(snap_round(z, 6)) > 1.96, F.lit(False)).alias("significant"),
    )


RUNS_TEST_SQL = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
    FROM orders
    GROUP BY 1
),
ranked AS (
    SELECT d, rev,
           ROW_NUMBER() OVER (ORDER BY rev, d) AS rk,
           COUNT(*) OVER () AS n_days
    FROM daily
),
med AS (
    SELECT CAST(SUM(rev) / COUNT(*) AS DECIMAL(18,6)) AS med
    FROM ranked
    WHERE rk = (n_days + 1) // 2
       OR rk = (n_days + 2) // 2
),
signed AS (
    SELECT d, CASE WHEN CAST(rev AS DECIMAL(18,6)) > med THEN 1 ELSE -1 END AS s
    FROM daily CROSS JOIN med
    WHERE CAST(rev AS DECIMAL(18,6)) <> med
),
flips AS (
    SELECT s,
           CASE WHEN LAG(s) OVER (ORDER BY d) IS NULL
                  OR LAG(s) OVER (ORDER BY d) <> s THEN 1 ELSE 0 END AS new_run
    FROM signed
),
sums AS (
    SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
           CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
           CAST(SUM(new_run) AS BIGINT) AS runs
    FROM flips
)
SELECT n_above, n_below, runs,
       CAST(ROUND(CAST(
           2.0 * n_above * n_below / (n_above + n_below) + 1.0
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS expected_runs,
       CASE WHEN 2.0 * n_above * n_below
                 * (2.0 * n_above * n_below - n_above - n_below) > 0
       THEN CAST(ROUND(CAST(
           (CAST(runs AS DOUBLE)
            - (2.0 * n_above * n_below / (n_above + n_below) + 1.0))
           / SQRT(2.0 * n_above * n_below
                  * (2.0 * n_above * n_below - n_above - n_below)
                  / (CAST((n_above + n_below) AS DOUBLE)
                     * CAST((n_above + n_below) AS DOUBLE)
                     * (CAST((n_above + n_below) AS DOUBLE) - 1.0)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) END AS z,
       COALESCE(CASE WHEN 2.0 * n_above * n_below
                     * (2.0 * n_above * n_below - n_above - n_below) > 0
       THEN ABS(CAST(ROUND(CAST(
           (CAST(runs AS DOUBLE)
            - (2.0 * n_above * n_below / (n_above + n_below) + 1.0))
           / SQRT(2.0 * n_above * n_below
                  * (2.0 * n_above * n_below - n_above - n_below)
                  / (CAST((n_above + n_below) AS DOUBLE)
                     * CAST((n_above + n_below) AS DOUBLE)
                     * (CAST((n_above + n_below) AS DOUBLE) - 1.0)))
           AS DECIMAL(28,8)), 6) AS DOUBLE)) > 1.96 END, FALSE) AS significant
FROM sums
"""


def q_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect-size panel for returned-vs-kept line-item quantity: Cohen's d
    (standardized mean difference), Cliff's delta and Vargha-Delaney A
    (rank-based dominance — robust to the heavy tails that make d lie).
    mann_whitney says WHETHER the distributions differ; this says by HOW
    MUCH, which is what a 6M-row sample actually needs (everything is
    "significant" at scale; effect size is the decision input).

    Both rank statistics derive from the same exact-integer midrank
    identity as mann_whitney (2U = Σ n_a(v)·R2(v) − n_a(n_a+1) over the
    ≤50-row bounded-support aggregate): δ = (2U − n_a·n_b)/(n_a·n_b) and
    A = U/(n_a·n_b) — tie pairs cancel algebraically, so no tie count is
    needed. Cohen's d pools exact decimal power sums. One grouped pass,
    ≤50-row algebra after; the magnitude label applies Romano's |δ|
    thresholds.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_v = returned_vs_kept(
        li,
        F.col("l_quantity").cast("long"),
        F.sum(F.when(F.col("is_a"), F.col("q")).otherwise(F.lit(0))).alias("sqa"),
        F.sum(F.when(F.col("is_a"), F.col("q") * F.col("q")).otherwise(F.lit(0))).alias("sqqa"),
        F.sum(F.when(F.col("is_a"), F.lit(0)).otherwise(F.col("q"))).alias("sqb"),
        F.sum(F.when(F.col("is_a"), F.lit(0)).otherwise(F.col("q") * F.col("q"))).alias("sqqb"),
        q=F.col("l_quantity").cast("decimal(12,2)"),
    )
    ranked = per_v.select(
        "na_v", "nb_v", "sqa", "sqqa", "sqb", "sqqb", doubled_midrank().alias("r2")
    )
    sums = split_totals(
        ranked,
        F.sum(F.col("na_v") * F.col("r2")).cast("long").alias("sum_r2a"),
        F.sum("sqa").alias("sa"),
        F.sum("sqqa").alias("saa"),
        F.sum("sqb").alias("sb"),
        F.sum("sqqb").alias("sbb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    u2 = (F.col("sum_r2a") - F.col("n_a") * (F.col("n_a") + 1)).cast("double")
    delta = (u2 - na * nb) / (na * nb)
    vda = u2 / (2.0 * na * nb)
    var_a = (F.col("saa").cast("double") - F.col("sa").cast("double") ** 2 / na) / (na - 1.0)
    var_b = (F.col("sbb").cast("double") - F.col("sb").cast("double") ** 2 / nb) / (nb - 1.0)
    pooled = F.sqrt(((na - 1.0) * var_a + (nb - 1.0) * var_b) / (na + nb - 2.0))
    d = (F.col("sa").cast("double") / na - F.col("sb").cast("double") / nb) / pooled
    delta_s = snap_round(delta, 6)
    return sums.select(
        "n_a",
        "n_b",
        snap_round(d, 6).alias("cohens_d"),
        delta_s.alias("cliffs_delta"),
        snap_round(vda, 6).alias("vd_a"),
        F.when(F.abs(delta_s) < 0.147, "negligible")
        .when(F.abs(delta_s) < 0.33, "small")
        .when(F.abs(delta_s) < 0.474, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


_Q = "CAST(l_quantity AS DECIMAL(12,2))"
EFFECT_SIZES_SQL = f"""
WITH {split_sql(
    "CAST(l_quantity AS BIGINT)",
    f"SUM(CASE WHEN l_returnflag = 'R' THEN {_Q} ELSE 0 END) AS sqa",
    f"SUM(CASE WHEN l_returnflag = 'R' THEN {_Q} * {_Q} ELSE 0 END) AS sqqa",
    f"SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE {_Q} END) AS sqb",
    f"SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE {_Q} * {_Q} END) AS sqqb",
)},
ranked AS (
    SELECT na_v, nb_v, sqa, sqqa, sqb, sqqb, {MIDRANK2_SQL} AS r2
    FROM per_v
),
sums AS (
    SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
           CAST(SUM(nb_v) AS BIGINT) AS n_b,
           CAST(SUM(na_v * r2) AS BIGINT) AS sum_r2a,
           SUM(sqa) AS sa, SUM(sqqa) AS saa, SUM(sqb) AS sb, SUM(sqqb) AS sbb
    FROM ranked
),
stat AS (
    SELECT n_a, n_b,
           CAST(sum_r2a - n_a * (n_a + 1) AS DOUBLE) AS u2,
           CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
           CAST(sa AS DOUBLE) AS sa, CAST(saa AS DOUBLE) AS saa,
           CAST(sb AS DOUBLE) AS sb, CAST(sbb AS DOUBLE) AS sbb
    FROM sums
)
SELECT n_a, n_b,
       CAST(ROUND(CAST(
           (sa / na - sb / nb)
           / SQRT(((na - 1.0) * ((saa - sa * sa / na) / (na - 1.0))
                   + (nb - 1.0) * ((sbb - sb * sb / nb) / (nb - 1.0)))
                  / (na + nb - 2.0))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS cohens_d,
       CAST(ROUND(CAST((u2 - na * nb) / (na * nb) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS cliffs_delta,
       CAST(ROUND(CAST(u2 / (2.0 * na * nb) AS DECIMAL(28,8)), 6) AS DOUBLE) AS vd_a,
       CASE
           WHEN ABS(CAST(ROUND(CAST((u2 - na * nb) / (na * nb) AS DECIMAL(28,8)), 6)
                    AS DOUBLE)) < 0.147 THEN 'negligible'
           WHEN ABS(CAST(ROUND(CAST((u2 - na * nb) / (na * nb) AS DECIMAL(28,8)), 6)
                    AS DOUBLE)) < 0.33 THEN 'small'
           WHEN ABS(CAST(ROUND(CAST((u2 - na * nb) / (na * nb) AS DECIMAL(28,8)), 6)
                    AS DOUBLE)) < 0.474 THEN 'medium'
           ELSE 'large'
       END AS magnitude
FROM stat
"""


def q_linear_cka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear Centered Kernel Alignment (Kornblith et al. 2019) between the
    first and last 32 dimensions of the embedding space — the standard
    representation-similarity diagnostic (are two embedding VIEWS encoding
    the same structure?). CKA = ‖Cxy‖²_F / (‖Cxx‖_F·‖Cyy‖_F) over the
    centered cross-feature matrices; ≈1 means the halves are linear
    transforms of each other, ≈0 means independent subspaces.

    Feature-space form, never sample-space: the n×n Gram matrix of the
    textbook definition would be quadratic in corpus size; the d×d
    cross-covariance needs one explode (n·d rows) + one vec_id-keyed join
    (n·d²/4 products) + a d²-cell aggregate — linear in n, constant in
    output. Centering uses the algebraic identity Σ(x−x̄)(y−ȳ) =
    Σxy − ΣxΣy/n so no per-feature mean join exists; all power sums are
    exact DECIMAL (float32 inputs snap to DECIMAL(12,8) identically in
    both engines), each covariance cell snaps at 6 dp, and the three
    Frobenius sums are exact decimal squares — order-free end to end.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = (
        e.select("vec_id", F.posexplode("embedding").alias("i", "x"))
        .select(
            "vec_id",
            "i",
            F.round(F.col("x").cast("double").cast("decimal(28,8)"), 6)
            .cast("decimal(12,6)")
            .alias("xd"),
        )
        .localCheckpoint()  # 6 consumers (3 pair joins + 2 mean aggs); scan once
    )
    xs = ex.filter(F.col("i") < 32).select(
        "vec_id", F.col("i").alias("ix"), F.col("xd").alias("x")
    )
    ys = ex.filter(F.col("i") >= 32).select(
        "vec_id", (F.col("i") - 32).alias("iy"), F.col("xd").alias("y")
    )
    n_row = e.agg(F.count(F.lit(1)).cast("long").alias("n"))
    mx = xs.groupBy("ix").agg(F.sum("x").alias("sx"))
    my = ys.groupBy("iy").agg(F.sum("y").alias("sy"))

    def frob(cells: DataFrame, s_left, s_right, key_l, key_r) -> DataFrame:
        c = (
            cells.join(F.broadcast(s_left), key_l)
            .join(F.broadcast(s_right), key_r)
            .crossJoin(F.broadcast(n_row))
            .select(
                F.round(
                    (
                        F.col("spq").cast("double")
                        - F.col("sl").cast("double")
                        * F.col("sr").cast("double")
                        / F.col("n").cast("double")
                    ).cast("decimal(12,6)"),
                    6,
                ).alias("c")
            )
        )
        return c.agg(F.sum(F.col("c") * F.col("c")).alias("f"))

    xy = (
        xs.join(ys, "vec_id")
        .groupBy("ix", "iy")
        .agg(F.sum(F.col("x") * F.col("y")).alias("spq"))
    )
    xx = (
        xs.join(
            xs.select("vec_id", F.col("ix").alias("jx"), F.col("x").alias("x2")),
            "vec_id",
        )
        .groupBy("ix", "jx")
        .agg(F.sum(F.col("x") * F.col("x2")).alias("spq"))
    )
    yy = (
        ys.join(
            ys.select("vec_id", F.col("iy").alias("jy"), F.col("y").alias("y2")),
            "vec_id",
        )
        .groupBy("iy", "jy")
        .agg(F.sum(F.col("y") * F.col("y2")).alias("spq"))
    )
    fxy = frob(
        xy,
        mx.select(F.col("ix").alias("kl"), F.col("sx").alias("sl")),
        my.select(F.col("iy").alias("kr"), F.col("sy").alias("sr")),
        F.col("ix") == F.col("kl"),
        F.col("iy") == F.col("kr"),
    ).select(F.col("f").alias("fxy"))
    fxx = frob(
        xx,
        mx.select(F.col("ix").alias("kl"), F.col("sx").alias("sl")),
        mx.select(F.col("ix").alias("kr"), F.col("sx").alias("sr")),
        F.col("ix") == F.col("kl"),
        F.col("jx") == F.col("kr"),
    ).select(F.col("f").alias("fxx"))
    fyy = frob(
        yy,
        my.select(F.col("iy").alias("kl"), F.col("sy").alias("sl")),
        my.select(F.col("iy").alias("kr"), F.col("sy").alias("sr")),
        F.col("iy") == F.col("kl"),
        F.col("jy") == F.col("kr"),
    ).select(F.col("f").alias("fyy"))
    out = fxy.crossJoin(F.broadcast(fxx)).crossJoin(F.broadcast(fyy)).crossJoin(
        F.broadcast(n_row)
    )
    return out.select(
        "n",
        snap_round(F.col("fxy").cast("double"), 6).alias("hsic_xy"),
        snap_round(
            F.col("fxy").cast("double")
            / (
                F.sqrt(F.col("fxx").cast("double"))
                * F.sqrt(F.col("fyy").cast("double"))
            ),
            6,
        ).alias("cka"),
    )


LINEAR_CKA_SQL = """
WITH ex AS (
    SELECT vec_id, i - 1 AS i,
           CAST(ROUND(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,8)), 6)
                AS DECIMAL(12,6)) AS xd
    FROM embeddings CROSS JOIN range(1, 65) t(i)
),
xs AS (SELECT vec_id, i AS ix, xd AS x FROM ex WHERE i < 32),
ys AS (SELECT vec_id, i - 32 AS iy, xd AS y FROM ex WHERE i >= 32),
n_row AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
mx AS (SELECT ix, SUM(x) AS sx FROM xs GROUP BY ix),
my AS (SELECT iy, SUM(y) AS sy FROM ys GROUP BY iy),
xy AS (
    SELECT ix, iy, SUM(x * y) AS spq
    FROM xs JOIN ys USING (vec_id) GROUP BY ix, iy
),
xx AS (
    SELECT a.ix AS ix, b.ix AS jx, SUM(a.x * b.x) AS spq
    FROM xs a JOIN xs b USING (vec_id) GROUP BY a.ix, b.ix
),
yy AS (
    SELECT a.iy AS iy, b.iy AS jy, SUM(a.y * b.y) AS spq
    FROM ys a JOIN ys b USING (vec_id) GROUP BY a.iy, b.iy
),
fxy AS (
    SELECT SUM(c * c) AS fxy FROM (
        SELECT ROUND(CAST(
            CAST(spq AS DOUBLE)
            - CAST(l.sx AS DOUBLE) * CAST(r.sy AS DOUBLE) / CAST(n AS DOUBLE)
            AS DECIMAL(12,6)), 6) AS c
        FROM xy JOIN mx l USING (ix) JOIN my r USING (iy) CROSS JOIN n_row
    )
),
fxx AS (
    SELECT SUM(c * c) AS fxx FROM (
        SELECT ROUND(CAST(
            CAST(spq AS DOUBLE)
            - CAST(l.sx AS DOUBLE) * CAST(r.sx AS DOUBLE) / CAST(n AS DOUBLE)
            AS DECIMAL(12,6)), 6) AS c
        FROM xx JOIN mx l USING (ix) JOIN mx r ON xx.jx = r.ix CROSS JOIN n_row
    )
),
fyy AS (
    SELECT SUM(c * c) AS fyy FROM (
        SELECT ROUND(CAST(
            CAST(spq AS DOUBLE)
            - CAST(l.sy AS DOUBLE) * CAST(r.sy AS DOUBLE) / CAST(n AS DOUBLE)
            AS DECIMAL(12,6)), 6) AS c
        FROM yy JOIN my l USING (iy) JOIN my r ON yy.jy = r.iy CROSS JOIN n_row
    )
)
SELECT n,
       CAST(ROUND(CAST(CAST(fxy AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS hsic_xy,
       CAST(ROUND(CAST(
           CAST(fxy AS DOUBLE)
           / (SQRT(CAST(fxx AS DOUBLE)) * SQRT(CAST(fyy AS DOUBLE)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS cka
FROM fxy CROSS JOIN fxx CROSS JOIN fyy CROSS JOIN n_row
"""


def q_frechet_embedding_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-covariance Fréchet distance between the embedding
    distributions of two label cohorts (labels 0–4 vs 5–9) — the FID-style
    distribution-shift score for embedding spaces (a drift_psi for
    vectors): FID_diag = ‖μ₁−μ₂‖² + Σᵢ(σ₁ᵢ + σ₂ᵢ − 2√(σ₁ᵢσ₂ᵢ)).

    The full-FID matrix square root needs an eigendecomposition the
    relational engine shouldn't own; the diagonal form is the standard
    large-scale surrogate (exact when covariances commute) and is ONE
    grouped power-sum pass: per (cohort, dim) Σx and Σx² in exact DECIMAL
    from the float32 inputs, population variances in double, per-dim
    terms snapped at 8 dp and summed as exact decimals. O(n·d) explode →
    2d-row aggregate; no joins touch corpus-sized relations.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        (F.col("label") < 5).alias("is_a"),
        F.posexplode("embedding").alias("i", "x"),
    ).select("is_a", "i", F.round(F.col("x").cast("double").cast("decimal(28,8)"), 6)
        .cast("decimal(12,6)")
        .alias("xd"))
    per = ex.groupBy("is_a", "i").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xd").alias("sx"),
        F.sum(F.col("xd") * F.col("xd")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    mu = F.col("sx").cast("double") / n
    v = F.col("sxx").cast("double") / n - mu * mu
    stats = per.select(
        "is_a",
        "i",
        "n",
        F.round(mu.cast("decimal(18,10)"), 10).alias("mu"),
        F.round(v.cast("decimal(18,10)"), 10).alias("v"),
    )
    a = stats.filter("is_a").select(
        "i", F.col("n").alias("n_a"), F.col("mu").alias("mu_a"), F.col("v").alias("v_a")
    )
    b = stats.filter(~F.col("is_a")).select(
        "i", F.col("n").alias("n_b"), F.col("mu").alias("mu_b"), F.col("v").alias("v_b")
    )
    terms = a.join(b, "i").select(
        "n_a",
        "n_b",
        F.round(
            (
                (F.col("mu_a").cast("double") - F.col("mu_b").cast("double"))
                * (F.col("mu_a").cast("double") - F.col("mu_b").cast("double"))
            ).cast("decimal(20,10)"),
            10,
        ).alias("mean_sq"),
        F.round(
            (
                F.col("v_a").cast("double")
                + F.col("v_b").cast("double")
                - 2.0
                * F.sqrt(F.col("v_a").cast("double") * F.col("v_b").cast("double"))
            ).cast("decimal(20,10)"),
            10,
        ).alias("var_term"),
    )
    out = terms.groupBy("n_a", "n_b").agg(
        F.sum("mean_sq").alias("sms"), F.sum("var_term").alias("svt")
    )
    return out.select(
        F.col("n_a").alias("n_vec_a"),
        F.col("n_b").alias("n_vec_b"),
        snap_round(F.col("sms").cast("double"), 6).alias("mean_shift_sq"),
        snap_round(F.col("svt").cast("double"), 6).alias("cov_gap"),
        snap_round(
            F.col("sms").cast("double") + F.col("svt").cast("double"), 6
        ).alias("fid_diag"),
    )


FRECHET_EMBEDDING_DISTANCE_SQL = """
WITH ex AS (
    SELECT label < 5 AS is_a, i - 1 AS i,
           CAST(ROUND(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,8)), 6)
                AS DECIMAL(12,6)) AS xd
    FROM embeddings CROSS JOIN range(1, 65) t(i)
),
per AS (
    SELECT is_a, i, CAST(COUNT(*) AS BIGINT) AS n,
           SUM(xd) AS sx, SUM(xd * xd) AS sxx
    FROM ex GROUP BY is_a, i
),
stats AS (
    SELECT is_a, i, n,
           ROUND(CAST(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                 AS DECIMAL(18,10)), 10) AS mu,
           ROUND(CAST(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                 AS DECIMAL(18,10)), 10) AS v
    FROM per
),
terms AS (
    SELECT a.n AS n_a, b.n AS n_b,
           ROUND(CAST(
               (CAST(a.mu AS DOUBLE) - CAST(b.mu AS DOUBLE))
               * (CAST(a.mu AS DOUBLE) - CAST(b.mu AS DOUBLE))
               AS DECIMAL(20,10)), 10) AS mean_sq,
           ROUND(CAST(
               CAST(a.v AS DOUBLE) + CAST(b.v AS DOUBLE)
               - 2.0 * SQRT(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE))
               AS DECIMAL(20,10)), 10) AS var_term
    FROM (SELECT * FROM stats WHERE is_a) a
    JOIN (SELECT * FROM stats WHERE NOT is_a) b USING (i)
),
summed AS (
    SELECT n_a, n_b, SUM(mean_sq) AS sms, SUM(var_term) AS svt
    FROM terms GROUP BY n_a, n_b
)
SELECT n_a AS n_vec_a,
       n_b AS n_vec_b,
       CAST(ROUND(CAST(CAST(sms AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS mean_shift_sq,
       CAST(ROUND(CAST(CAST(svt AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS cov_gap,
       CAST(ROUND(CAST(CAST(sms AS DOUBLE) + CAST(svt AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS fid_diag
FROM summed
"""


def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily order-revenue series:
    Q = n(n+2)·Σ_{l≤8} ρ_l²/(n−l) — is there ANY autocorrelation in the
    first 8 lags? acf_daily_revenue reports the individual ρ_l; this is
    the joint test a forecasting pipeline gates on before trusting
    residual-based intervals (conformal_interval assumes exchangeable
    residuals — exactly what Ljung-Box falsifies).

    Shares the ACF discipline (same daily collapse, snapped mean, exact
    decimal product sums, lag equi-join against an 8-row broadcast —
    never a window re-sort per lag). Each ρ_l snaps at 6 dp; the per-lag
    terms ρ²/(n−l) snap at 12 dp and sum as exact decimals. df = 8 is
    EVEN, so the χ² survival function is the closed Poisson form
    exp(−Q/2)·Σ_{k≤3}(Q/2)^k/k! — no incomplete-gamma machinery, one
    identical double expression in both engines.
    """
    # 3 consumers: denominator + both join sides
    ser = centred_series(spark, sf_dir).localCheckpoint()
    den = ser.agg(
        F.sum(snap_term(F.col("d") * F.col("d"))).alias("den"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    lags = spark.range(1, 9).select(F.col("id").cast("int").alias("l"))
    rho = (
        lag_sums(ser, lags)
        .crossJoin(F.broadcast(den))
        .select(
            "l",
            "n",
            F.round(
                (F.col("num").cast("double") / F.col("den").cast("double")).cast(
                    "decimal(10,6)"
                ),
                6,
            ).alias("rho"),
        )
    )
    terms = rho.select(
        "n",
        F.round(
            (
                F.col("rho").cast("double")
                * F.col("rho").cast("double")
                / (F.col("n") - F.col("l")).cast("double")
            ).cast("decimal(20,12)"),
            12,
        ).alias("term"),
    )
    summed = terms.groupBy("n").agg(F.sum("term").alias("s"))
    q = (
        F.col("n").cast("double")
        * (F.col("n").cast("double") + 2.0)
        * F.col("s").cast("double")
    )
    qs = snap_round(q, 6)
    h = qs / 2.0
    p = F.exp(-h) * (1.0 + h + h * h / 2.0 + h * h * h / 6.0)
    return summed.select(
        F.col("n").alias("n_days"),
        F.lit(8).cast("long").alias("lags"),
        qs.alias("q_stat"),
        snap_round(p, 6).alias("p_value"),
        (snap_round(p, 6) < 0.05).alias("significant"),
    )


LJUNG_BOX_SQL = f"""
WITH {CENTRED_SERIES_SQL},
den AS (
    SELECT SUM(ROUND(CAST(d * d AS DECIMAL(28,8)), 6)) AS den,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ser
),
shifted AS (
    SELECT t + l AS t, l, d AS d2
    FROM ser CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8]) AS l)
),
rho AS (
    SELECT l, n,
           ROUND(CAST(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                 AS DECIMAL(10,6)), 6) AS rho
    FROM (
        SELECT l, SUM(ROUND(CAST(ser.d * shifted.d2 AS DECIMAL(28,8)), 6)) AS num
        FROM ser JOIN shifted USING (t)
        GROUP BY l
    ) CROSS JOIN den
),
summed AS (
    SELECT n,
           SUM(ROUND(CAST(CAST(rho AS DOUBLE) * CAST(rho AS DOUBLE)
                     / CAST(n - l AS DOUBLE) AS DECIMAL(20,12)), 12)) AS s
    FROM rho
    GROUP BY n
),
stat AS (
    SELECT n,
           CAST(ROUND(CAST(
               CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * CAST(s AS DOUBLE)
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS q
    FROM summed
)
SELECT n AS n_days,
       CAST(8 AS BIGINT) AS lags,
       q AS q_stat,
       CAST(ROUND(CAST(
           EXP(-q / 2.0) * (1.0 + q / 2.0 + (q / 2.0) * (q / 2.0) / 2.0
                            + (q / 2.0) * (q / 2.0) * (q / 2.0) / 6.0)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS p_value,
       CAST(ROUND(CAST(
           EXP(-q / 2.0) * (1.0 + q / 2.0 + (q / 2.0) * (q / 2.0) / 2.0
                            + (q / 2.0) * (q / 2.0) * (q / 2.0) / 6.0)
           AS DECIMAL(28,8)), 6) AS DOUBLE) < 0.05 AS significant
FROM stat
"""


def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (Bandt-Pompe 2002, order 3) of daily order
    revenue — the complexity measure of the forecast family: each
    consecutive value triple maps to its ORDINAL pattern, and the Shannon
    entropy of the pattern distribution separates regular (low H) from
    noise-like (high H) dynamics. Ties get their own symbols (the
    three-way comparison code 9·cmp(a,b) + 3·cmp(a,c) + cmp(b,c)), so
    the statistic is EXACT integer bucketing — no epsilon, no tie-break
    ambiguity, bit-identical across engines.

    Pattern extraction is two LEAD windows over the bounded daily
    relation (the acf posture); the entropy assembles from exact counts,
    per-pattern −p·ln p terms snapped at 10 dp and summed as exact
    decimals, normalized by ln 6 (the tie-free alphabet size).
    """
    w = Window.orderBy("o_orderdate")
    trip = daily_revenue(spark, sf_dir).select(
        F.col("r").alias("a"),
        F.lead("r", 1).over(w).alias("b"),
        F.lead("r", 2).over(w).alias("c"),
    ).filter(F.col("c").isNotNull())

    def cmp3(x, y):
        return F.when(x < y, 0).when(x == y, 1).otherwise(2)

    pats = trip.select(
        (
            9 * cmp3(F.col("a"), F.col("b"))
            + 3 * cmp3(F.col("a"), F.col("c"))
            + cmp3(F.col("b"), F.col("c"))
        )
        .cast("long")
        .alias("pattern")
    )
    counts = pats.groupBy("pattern").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = counts.agg(
        F.sum("c").cast("long").alias("n_triples"),
        F.count(F.lit(1)).cast("long").alias("n_patterns"),
        F.max("c").cast("long").alias("top_count"),
    )
    terms = counts.crossJoin(F.broadcast(tot)).select(
        "n_triples",
        "n_patterns",
        "top_count",
        F.round(
            (
                -(F.col("c").cast("double") / F.col("n_triples").cast("double"))
                * F.log(F.col("c").cast("double") / F.col("n_triples").cast("double"))
            ).cast("decimal(16,10)"),
            10,
        ).alias("term"),
    )
    out = terms.groupBy("n_triples", "n_patterns", "top_count").agg(
        F.sum("term").alias("h")
    )
    return out.select(
        "n_triples",
        "n_patterns",
        snap_round(F.col("h").cast("double"), 6).alias("entropy"),
        snap_round(
            F.col("h").cast("double") / float(__import__("math").log(6.0)), 6
        ).alias("normalized_entropy"),
        snap_round(
            F.col("top_count").cast("double") / F.col("n_triples").cast("double"), 6
        ).alias("top_pattern_share"),
    )


PERMUTATION_ENTROPY_SQL = f"""
WITH {daily_revenue_sql()},
trip AS (
    SELECT r AS a,
           LEAD(r, 1) OVER (ORDER BY o_orderdate) AS b,
           LEAD(r, 2) OVER (ORDER BY o_orderdate) AS c
    FROM daily
    QUALIFY c IS NOT NULL
),
pats AS (
    SELECT CAST(
        9 * (CASE WHEN a < b THEN 0 WHEN a = b THEN 1 ELSE 2 END)
        + 3 * (CASE WHEN a < c THEN 0 WHEN a = c THEN 1 ELSE 2 END)
        + (CASE WHEN b < c THEN 0 WHEN b = c THEN 1 ELSE 2 END) AS BIGINT)
        AS pattern
    FROM trip
),
counts AS (
    SELECT pattern, CAST(COUNT(*) AS BIGINT) AS c FROM pats GROUP BY pattern
),
tot AS (
    SELECT CAST(SUM(c) AS BIGINT) AS n_triples,
           CAST(COUNT(*) AS BIGINT) AS n_patterns,
           CAST(MAX(c) AS BIGINT) AS top_count
    FROM counts
),
summed AS (
    SELECT n_triples, n_patterns, top_count,
           SUM(ROUND(CAST(
               -(CAST(c AS DOUBLE) / CAST(n_triples AS DOUBLE))
               * LN(CAST(c AS DOUBLE) / CAST(n_triples AS DOUBLE))
               AS DECIMAL(16,10)), 10)) AS h
    FROM counts CROSS JOIN tot
    GROUP BY n_triples, n_patterns, top_count
)
SELECT n_triples, n_patterns,
       CAST(ROUND(CAST(CAST(h AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS entropy,
       CAST(ROUND(CAST(CAST(h AS DOUBLE) / LN(6.0) AS DECIMAL(28,8)), 6)
           AS DOUBLE) AS normalized_entropy,
       CAST(ROUND(CAST(CAST(top_count AS DOUBLE) / CAST(n_triples AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS top_pattern_share
FROM summed
"""


def q_oaxaca_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oaxaca-Blinder decomposition of the order-value gap between URGENT
    and non-urgent orders: how much of the mean o_totalprice difference is
    EXPLAINED by urgent orders simply having more line items (the
    endowment x = per-order line count), and how much is a genuine
    pricing difference (the coefficient part)? The standard gap-auditing
    tool (wage-gap econometrics) applied to the order book — diff_in_diff
    needs a time dimension, this decomposes a cross-section.

    Two-fold form with the non-urgent group as reference: gap = ȳ_A−ȳ_B =
    β_B·(x̄_A−x̄_B)  [explained]  +  (α_A−α_B) + (β_A−β_B)·x̄_A
    [unexplained]. Both one-regressor OLS fits are closed-form from exact
    DECIMAL power sums (n, Σx, Σy, Σxy, Σx²) — one grouped pass over the
    order-level join, 2-row algebra after; the identity
    gap ≡ explained + unexplained holds exactly by construction.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nlines = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    per_order = o.join(nlines, "o_orderkey").select(
        (F.col("o_orderpriority") == "1-URGENT").alias("is_a"),
        F.col("x").cast("decimal(10,0)").alias("x"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("y"),
    )
    g = per_order.groupBy("is_a").agg(*line_sums(F.col("x"), F.col("y")))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    # zero within-group x-variance → slope undefined (degenerate input)
    beta = line_fit()[0]
    fit = g.select(
        "is_a",
        n.cast("long").alias("n"),
        F.round((sx / n).cast("decimal(18,8)"), 8).alias("xbar"),
        F.round((sy / n).cast("decimal(18,8)"), 8).alias("ybar"),
        F.round(beta.cast("decimal(18,8)"), 8).alias("beta"),
    )
    a = fit.filter("is_a").select(
        F.col("n").alias("n_a"),
        F.col("xbar").alias("xbar_a"),
        F.col("ybar").alias("ybar_a"),
        F.col("beta").alias("beta_a"),
    )
    b = fit.filter(~F.col("is_a")).select(
        F.col("n").alias("n_b"),
        F.col("xbar").alias("xbar_b"),
        F.col("ybar").alias("ybar_b"),
        F.col("beta").alias("beta_b"),
    )
    j = a.crossJoin(F.broadcast(b))
    gap = F.col("ybar_a").cast("double") - F.col("ybar_b").cast("double")
    explained = F.col("beta_b").cast("double") * (
        F.col("xbar_a").cast("double") - F.col("xbar_b").cast("double")
    )
    return j.select(
        "n_a",
        "n_b",
        snap_round(gap, 4).alias("gap"),
        snap_round(explained, 4).alias("explained"),
        snap_round(gap - explained, 4).alias("unexplained"),
        snap_round(100.0 * explained / gap, 4).alias("pct_explained"),
        snap_round(F.col("beta_a").cast("double"), 6).alias("slope_urgent"),
        snap_round(F.col("beta_b").cast("double"), 6).alias("slope_other"),
    )


OAXACA_DECOMPOSITION_SQL = f"""
WITH nlines AS (
    SELECT l_orderkey AS o_orderkey, CAST(COUNT(*) AS BIGINT) AS x
    FROM lineitem GROUP BY l_orderkey
),
per_order AS (
    SELECT o_orderpriority = '1-URGENT' AS is_a,
           CAST(x AS DECIMAL(10,0)) AS x,
           CAST(o_totalprice AS DECIMAL(12,2)) AS y
    FROM orders JOIN nlines USING (o_orderkey)
),
g AS (SELECT is_a, {line_sums_sql("x")} FROM per_order GROUP BY is_a),
fit AS (
    SELECT is_a, CAST(n AS BIGINT) AS n,
           ROUND(CAST(sx / n AS DECIMAL(18,8)), 8) AS xbar,
           ROUND(CAST(sy / n AS DECIMAL(18,8)), 8) AS ybar,
           ROUND(CAST(slope AS DECIMAL(18,8)), 8) AS beta
    FROM {line_fit_sql("g")}
),
j AS (
    SELECT a.n AS n_a, b.n AS n_b,
           CAST(a.ybar AS DOUBLE) - CAST(b.ybar AS DOUBLE) AS gap,
           CAST(b.beta AS DOUBLE)
               * (CAST(a.xbar AS DOUBLE) - CAST(b.xbar AS DOUBLE)) AS explained,
           CAST(a.beta AS DOUBLE) AS beta_a, CAST(b.beta AS DOUBLE) AS beta_b
    FROM (SELECT * FROM fit WHERE is_a) a
    CROSS JOIN (SELECT * FROM fit WHERE NOT is_a) b
)
SELECT n_a, n_b,
       CAST(ROUND(CAST(gap AS DECIMAL(28,8)), 4) AS DOUBLE) AS gap,
       CAST(ROUND(CAST(explained AS DECIMAL(28,8)), 4) AS DOUBLE) AS explained,
       CAST(ROUND(CAST(gap - explained AS DECIMAL(28,8)), 4) AS DOUBLE)
           AS unexplained,
       CAST(ROUND(CAST(100.0 * explained / gap AS DECIMAL(28,8)), 4) AS DOUBLE)
           AS pct_explained,
       CAST(ROUND(CAST(beta_a AS DECIMAL(28,8)), 6) AS DOUBLE) AS slope_urgent,
       CAST(ROUND(CAST(beta_b AS DECIMAL(28,8)), 6) AS DOUBLE) AS slope_other
FROM j
"""


def q_cumulative_incidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence under COMPETING RISKS: from each
    user's signup, the first 'purchase' and the first 'error' race — the
    CIF of each cause at each event hour. kaplan_meier treats the other
    cause as censoring, which is BIASED under competing risks (1−KM
    overstates incidence); Aalen-Johansen allocates the at-risk mass
    correctly: CIF_k(t) = Σ_{s≤t} S(s⁻)·d_k(s)/n(s). Users with neither
    event administratively censor at the observation end.

    The survival prefix S(s⁻) is exp(exact-decimal cumsum of 9-dp-snapped
    ln(1−d/n)) — the err_eval cascade discipline; per-time CIF increments
    snap at 10 dp and accumulate as exact decimals, so the curve is
    bit-identical across engines. All counts collapse to the per-hour
    event table first (one keyed aggregate); the windows run over that
    bounded relation (≤ observation hours), the acf posture.
    """
    ev = load_table(spark, sf_dir, "events")
    t0 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    firsts = (
        ev.join(t0, "user_id")
        .filter(
            (F.col("ts") > F.col("t0"))
            & F.col("event_type").isin("purchase", "error")
        )
        .groupBy("user_id", "t0")
        .agg(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
            F.min(F.when(F.col("event_type") == "error", F.col("ts"))).alias("te"),
        )
    )
    admin = ev.agg(F.max("ts").alias("t_end"))
    per_user = (
        t0.join(firsts.drop("t0"), "user_id", "left")
        .crossJoin(F.broadcast(admin))
        .select(
            "user_id",
            F.when(
                F.col("tp").isNotNull()
                & (F.col("te").isNull() | (F.col("tp") <= F.col("te"))),
                1,
            )
            .when(F.col("te").isNotNull(), 2)
            .otherwise(0)
            .alias("cause"),
            F.floor(
                (
                    F.unix_timestamp(
                        F.coalesce(F.least("tp", "te"), F.col("t_end"))
                    )
                    - F.unix_timestamp("t0")
                )
                / 3600
            )
            .cast("long")
            .alias("h"),
        )
    )
    per_h = per_user.groupBy("h").agg(
        F.sum(F.when(F.col("cause") == 1, 1).otherwise(0)).cast("long").alias("d1"),
        F.sum(F.when(F.col("cause") == 2, 1).otherwise(0)).cast("long").alias("d2"),
        F.sum(F.when(F.col("cause") == 0, 1).otherwise(0)).cast("long").alias("c"),
    )
    n_tot = per_user.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    w_prev = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, -1)
    w_cur = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    risk = per_h.crossJoin(F.broadcast(n_tot)).select(
        "h",
        "d1",
        "d2",
        "c",
        (
            F.col("n_users")
            - F.coalesce(
                F.sum(F.col("d1") + F.col("d2") + F.col("c")).over(w_prev), F.lit(0)
            )
        ).alias("n_risk"),
    )
    d_tot = F.col("d1") + F.col("d2")
    lnterm = F.when(
        d_tot < F.col("n_risk"),
        F.round(
            F.log(1.0 - d_tot.cast("double") / F.col("n_risk").cast("double")).cast(
                "decimal(18,9)"
            ),
            9,
        ),
    ).otherwise(F.lit(0).cast("decimal(18,9)"))
    with_s = risk.select(
        "h",
        "d1",
        "d2",
        "n_risk",
        F.exp(
            F.coalesce(
                F.sum(lnterm).over(w_prev), F.lit(0).cast("decimal(18,9)")
            ).cast("double")
        ).alias("s_prev"),
    )
    inc = with_s.select(
        "h",
        "d1",
        "d2",
        "n_risk",
        F.round(
            (
                F.col("s_prev") * F.col("d1").cast("double")
                / F.col("n_risk").cast("double")
            ).cast("decimal(16,10)"),
            10,
        ).alias("i1"),
        F.round(
            (
                F.col("s_prev") * F.col("d2").cast("double")
                / F.col("n_risk").cast("double")
            ).cast("decimal(16,10)"),
            10,
        ).alias("i2"),
    )
    out = inc.select(
        "h",
        "d1",
        "d2",
        "n_risk",
        F.sum("i1").over(w_cur).cast("double").alias("cif1"),
        F.sum("i2").over(w_cur).cast("double").alias("cif2"),
    ).filter((F.col("d1") + F.col("d2")) > 0)
    return out.select(
        F.col("h").alias("hours_since_signup"),
        F.col("n_risk").alias("at_risk"),
        F.col("d1").alias("d_purchase"),
        F.col("d2").alias("d_error"),
        snap_round(F.col("cif1"), 6).alias("cif_purchase"),
        snap_round(F.col("cif2"), 6).alias("cif_error"),
    ).orderBy("hours_since_signup")


CUMULATIVE_INCIDENCE_SQL = """
WITH t0 AS (
    SELECT user_id, MIN(ts) AS t0 FROM events
    WHERE event_type = 'signup' GROUP BY user_id
),
firsts AS (
    SELECT e.user_id,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
           MIN(CASE WHEN event_type = 'error' THEN ts END) AS te
    FROM events e JOIN t0 ON e.user_id = t0.user_id
    WHERE e.ts > t0.t0 AND event_type IN ('purchase', 'error')
    GROUP BY e.user_id
),
admin AS (SELECT MAX(ts) AS t_end FROM events),
per_user AS (
    SELECT t0.user_id,
           CASE WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN 1
                WHEN te IS NOT NULL THEN 2 ELSE 0 END AS cause,
           CAST(FLOOR(EPOCH(COALESCE(LEAST(tp, te), t_end) - t0) / 3600)
               AS BIGINT) AS h
    FROM t0 LEFT JOIN firsts USING (user_id) CROSS JOIN admin
),
per_h AS (
    SELECT h,
           CAST(SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
           CAST(SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
           CAST(SUM(CASE WHEN cause = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c
    FROM per_user GROUP BY h
),
n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM per_user),
risk AS (
    SELECT h, d1, d2, c,
           CAST(n_users - COALESCE(SUM(d1 + d2 + c) OVER
               (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
    FROM per_h CROSS JOIN n_tot
),
with_s AS (
    SELECT h, d1, d2, n_risk,
           EXP(CAST(COALESCE(SUM(
               CASE WHEN d1 + d2 < n_risk
               THEN ROUND(CAST(LN(1.0 - CAST(d1 + d2 AS DOUBLE)
                               / CAST(n_risk AS DOUBLE)) AS DECIMAL(18,9)), 9)
               ELSE CAST(0 AS DECIMAL(18,9)) END) OVER
               (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS DECIMAL(18,9))) AS DOUBLE)) AS s_prev
    FROM risk
),
inc AS (
    SELECT h, d1, d2, n_risk,
           ROUND(CAST(s_prev * CAST(d1 AS DOUBLE) / CAST(n_risk AS DOUBLE)
                 AS DECIMAL(16,10)), 10) AS i1,
           ROUND(CAST(s_prev * CAST(d2 AS DOUBLE) / CAST(n_risk AS DOUBLE)
                 AS DECIMAL(16,10)), 10) AS i2
    FROM with_s
),
curve AS (
    SELECT h, d1, d2, n_risk,
           CAST(SUM(i1) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               AS cif1,
           CAST(SUM(i2) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               AS cif2
    FROM inc
)
SELECT h AS hours_since_signup,
       n_risk AS at_risk,
       d1 AS d_purchase,
       d2 AS d_error,
       CAST(ROUND(CAST(cif1 AS DECIMAL(28,8)), 6) AS DOUBLE) AS cif_purchase,
       CAST(ROUND(CAST(cif2 AS DECIMAL(28,8)), 6) AS DOUBLE) AS cif_error
FROM curve
WHERE d1 + d2 > 0
ORDER BY hours_since_signup
"""


def q_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study (dynamic treatment-effect) curve around each user's
    FIRST PURCHASE: for relative days −5..+5, the mean gap between a
    purchasing user's daily engagement value (click+view value sum) and
    the same-calendar-day mean of never-purchasing users. diff_in_diff
    reports one pooled effect; the event-study curve shows the PATH —
    pre-trends (r < 0 should hover near the pre-mean) and the
    post-adoption lift, the standard identification diagnostic.

    Calendar-day confounding is removed by the control baseline join
    (never-purchasers' per-day mean over a FIXED user denominator, zeros
    implicit); treated user-days materialize as (user × relative-day)
    pairs clamped to the observation window, left-joined to actual
    activity so silent days count as 0, not missing. All joins are keyed
    (day / user-day); exact decimal value sums; one snapped subtraction
    per cell, decimal re-aggregation per relative day.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.to_date("ts").alias("d"),
        "event_type",
        F.col("value").cast("decimal(12,2)").alias("v"),
    ).localCheckpoint()  # consumers: treated days, control baseline, bounds
    first_buy = (
        base.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("d").alias("event_day"))
    )
    bounds = base.agg(F.min("d").alias("d_lo"), F.max("d").alias("d_hi"))
    engage = (
        base.filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", "d")
        .agg(F.sum("v").alias("y"))
    )
    ctrl_users = base.select("user_id").distinct().join(
        first_buy, "user_id", "left_anti"
    )
    n_ctrl = ctrl_users.agg(F.count(F.lit(1)).cast("long").alias("n_ctrl"))
    baseline = (
        engage.join(ctrl_users, "user_id")
        .groupBy("d")
        .agg(F.sum("y").alias("sy"))
        .crossJoin(F.broadcast(n_ctrl))
        .select(
            "d",
            F.round(
                (F.col("sy").cast("double") / F.col("n_ctrl").cast("double")).cast(
                    "decimal(16,6)"
                ),
                6,
            ).alias("base_y"),
        )
    )
    rels = spark.range(-5, 6).select(F.col("id").cast("int").alias("r"))
    panel = (
        first_buy.crossJoin(F.broadcast(rels))
        .select("user_id", "r", F.date_add(F.col("event_day"), F.col("r")).alias("d"))
        .crossJoin(F.broadcast(bounds))
        .filter((F.col("d") >= F.col("d_lo")) & (F.col("d") <= F.col("d_hi")))
    )
    cells = (
        panel.join(engage, ["user_id", "d"], "left")
        .join(baseline, "d", "left")
        .select(
            "r",
            F.round(
                (
                    F.coalesce(F.col("y").cast("double"), F.lit(0.0))
                    - F.coalesce(F.col("base_y").cast("double"), F.lit(0.0))
                ).cast("decimal(16,6)"),
                6,
            ).alias("gap"),
        )
    )
    out = cells.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("n_user_days"),
        F.sum("gap").alias("sgap"),
    )
    return out.select(
        F.col("r").alias("relative_day"),
        "n_user_days",
        snap_round(
            F.col("sgap").cast("double") / F.col("n_user_days").cast("double"), 6
        ).alias("effect"),
    ).orderBy("relative_day")


EVENT_STUDY_SQL = """
WITH base AS (
    SELECT user_id, CAST(ts AS DATE) AS d, event_type,
           CAST(value AS DECIMAL(12,2)) AS v
    FROM events
),
first_buy AS (
    SELECT user_id, MIN(d) AS event_day FROM base
    WHERE event_type = 'purchase' GROUP BY user_id
),
bounds AS (SELECT MIN(d) AS d_lo, MAX(d) AS d_hi FROM base),
engage AS (
    SELECT user_id, d, SUM(v) AS y FROM base
    WHERE event_type IN ('click', 'view') GROUP BY user_id, d
),
ctrl_users AS (
    SELECT DISTINCT user_id FROM base
    WHERE user_id NOT IN (SELECT user_id FROM first_buy)
),
n_ctrl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ctrl FROM ctrl_users),
baseline AS (
    SELECT d,
           ROUND(CAST(CAST(SUM(y) AS DOUBLE) / CAST(n_ctrl AS DOUBLE)
                 AS DECIMAL(16,6)), 6) AS base_y
    FROM engage JOIN ctrl_users USING (user_id) CROSS JOIN n_ctrl
    GROUP BY d, n_ctrl
),
panel AS (
    SELECT user_id, r, event_day + CAST(r AS INTEGER) AS d
    FROM first_buy
    CROSS JOIN (SELECT unnest(range(-5, 6)) AS r)
    CROSS JOIN bounds
    WHERE event_day + CAST(r AS INTEGER) >= d_lo
      AND event_day + CAST(r AS INTEGER) <= d_hi
),
cells AS (
    SELECT r,
           ROUND(CAST(
               COALESCE(CAST(y AS DOUBLE), 0.0)
               - COALESCE(CAST(base_y AS DOUBLE), 0.0)
               AS DECIMAL(16,6)), 6) AS gap
    FROM panel
    LEFT JOIN engage USING (user_id, d)
    LEFT JOIN baseline USING (d)
)
SELECT CAST(r AS INTEGER) AS relative_day,
       CAST(COUNT(*) AS BIGINT) AS n_user_days,
       CAST(ROUND(CAST(CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS effect
FROM cells
GROUP BY r
ORDER BY relative_day
"""


def q_wasserstein_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between the returned and kept
    discount distributions — the TRANSPORT-COST companion to ks_test: KS
    reads the largest CDF gap, W₁ = ∫|F_a−F_b| integrates ALL of it, so a
    broad small shift (which KS underweights) shows up here.

    On the bounded cent support the integral is the exact rational
    Σ_v |cumA(v)·n_b − cumB(v)·n_a|·Δv / (n_a·n_b): integer cumulative
    counts, integer gap-weighted sum (decimal vs int64 overflow guard),
    ONE division at the end. Also reports the mean-shift lower bound
    |μ_a−μ_b| (W₁ ≥ |Δμ| always — a free internal consistency check).
    One ≤11-row aggregate past the scan, same posture as ks_test.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_v = returned_vs_kept(li, F.round(F.col("l_discount") * 100, 0).cast("long"))
    cums = split_cums(
        per_v, "v", (F.lead("v").over(Window.orderBy("v")) - F.col("v")).alias("dv")
    ).filter(F.col("dv").isNotNull())
    totals = split_totals(
        per_v,
        F.sum(F.col("v") * F.col("na_v")).cast("long").alias("sa"),
        F.sum(F.col("v") * F.col("nb_v")).cast("long").alias("sb"),
    )
    summed = (
        cums.crossJoin(F.broadcast(totals))
        .groupBy("n_a", "n_b", "sa", "sb")
        .agg(
            F.sum(
                F.abs(
                    F.col("ca").cast("decimal(28,0)") * F.col("n_b")
                    - F.col("cb").cast("decimal(28,0)") * F.col("n_a")
                )
                * F.col("dv")
            ).alias("num")
        )
    )
    nab = (F.col("n_a") * F.col("n_b")).cast("double")
    w1_cents = F.col("num").cast("double") / nab
    mean_gap = F.abs(
        F.col("sa").cast("double") / F.col("n_a").cast("double")
        - F.col("sb").cast("double") / F.col("n_b").cast("double")
    )
    return summed.select(
        "n_a",
        "n_b",
        snap_round(w1_cents / 100.0, 8).alias("wasserstein"),
        snap_round(mean_gap / 100.0, 8).alias("mean_shift_bound"),
        (snap_round(w1_cents / 100.0, 8) >= snap_round(mean_gap / 100.0, 8)).alias(
            "bound_holds"
        ),
    )


WASSERSTEIN_DISTANCE_SQL = f"""
WITH {split_sql("CAST(ROUND(l_discount * 100, 0) AS BIGINT)")},
cums AS (
    SELECT v,
           SUM(na_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
           SUM(nb_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb,
           LEAD(v) OVER (ORDER BY v) - v AS dv
    FROM per_v
    QUALIFY dv IS NOT NULL
),
totals AS (
    SELECT CAST(SUM(na_v) AS BIGINT) AS n_a, CAST(SUM(nb_v) AS BIGINT) AS n_b,
           CAST(SUM(v * na_v) AS BIGINT) AS sa, CAST(SUM(v * nb_v) AS BIGINT) AS sb
    FROM per_v
),
summed AS (
    SELECT n_a, n_b, sa, sb,
           SUM(ABS(CAST(ca AS DECIMAL(28,0)) * n_b
                   - CAST(cb AS DECIMAL(28,0)) * n_a) * dv) AS num
    FROM cums CROSS JOIN totals
    GROUP BY n_a, n_b, sa, sb
)
SELECT n_a, n_b,
       CAST(ROUND(CAST(CAST(num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) / 100.0
            AS DECIMAL(28,8)), 8) AS DOUBLE) AS wasserstein,
       CAST(ROUND(CAST(ABS(CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)
                           - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)) / 100.0
            AS DECIMAL(28,8)), 8) AS DOUBLE) AS mean_shift_bound,
       CAST(ROUND(CAST(CAST(num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) / 100.0
            AS DECIMAL(28,8)), 8) AS DOUBLE)
       >= CAST(ROUND(CAST(ABS(CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)
                              - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)) / 100.0
            AS DECIMAL(28,8)), 8) AS DOUBLE) AS bound_holds
FROM summed
"""


def q_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Székely's energy distance between the returned and kept quantity
    distributions: E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| — the all-moments
    two-sample statistic (E = 0 ⟺ identical distributions), rounding out
    the family: mann_whitney (location), bartlett (spread), ks/wasserstein
    (CDF), energy (characteristic function, rotation-free).

    The textbook form is O(n²) pairwise distances; on the bounded
    quantity support every expectation collapses to a |support|² = 50²
    cross join of per-value counts — Σ_{u,v} c(u)c(v)|u−v| in EXACT
    integers (decimal against int64 overflow at 100 TB counts), three
    expectations from one product relation, one division each at the end.
    Also reports the test statistic T = (n_a·n_b/(n_a+n_b))·E.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # both sides of the 50×50 product + totals
    per_v = returned_vs_kept(li, F.col("l_quantity").cast("long")).localCheckpoint()
    o = per_v.select(
        F.col("v").alias("u"),
        F.col("na_v").alias("na_u"),
        F.col("nb_v").alias("nb_u"),
    )
    prod = per_v.crossJoin(o).select(
        F.abs(F.col("v") - F.col("u")).cast("decimal(28,0)").alias("dist"),
        F.col("na_v").cast("decimal(28,0)").alias("na_v"),
        F.col("nb_v").cast("decimal(28,0)").alias("nb_v"),
        F.col("na_u").cast("decimal(28,0)").alias("na_u"),
        F.col("nb_u").cast("decimal(28,0)").alias("nb_u"),
    )
    sums = prod.agg(
        F.sum(F.col("dist") * F.col("na_v") * F.col("nb_u")).alias("sab"),
        F.sum(F.col("dist") * F.col("na_v") * F.col("na_u")).alias("saa"),
        F.sum(F.col("dist") * F.col("nb_v") * F.col("nb_u")).alias("sbb"),
    )
    j = sums.crossJoin(F.broadcast(split_totals(per_v)))
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    e = (
        2.0 * F.col("sab").cast("double") / (na * nb)
        - F.col("saa").cast("double") / (na * na)
        - F.col("sbb").cast("double") / (nb * nb)
    )
    return j.select(
        "n_a",
        "n_b",
        snap_round(e, 8).alias("energy_distance"),
        snap_round(na * nb / (na + nb) * e, 6).alias("t_stat"),
    )


ENERGY_DISTANCE_SQL = f"""
WITH {split_sql("CAST(l_quantity AS BIGINT)")},
prod AS (
    SELECT CAST(ABS(a.v - b.v) AS DECIMAL(28,0)) AS dist,
           CAST(a.na_v AS DECIMAL(28,0)) AS na_v,
           CAST(a.nb_v AS DECIMAL(28,0)) AS nb_v,
           CAST(b.na_v AS DECIMAL(28,0)) AS na_u,
           CAST(b.nb_v AS DECIMAL(28,0)) AS nb_u
    FROM per_v a CROSS JOIN per_v b
),
sums AS (
    SELECT SUM(dist * na_v * nb_u) AS sab,
           SUM(dist * na_v * na_u) AS saa,
           SUM(dist * nb_v * nb_u) AS sbb
    FROM prod
),
{SPLIT_TOTALS_SQL}
SELECT n_a, n_b,
       CAST(ROUND(CAST(
           2.0 * CAST(sab AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           - CAST(saa AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))
           - CAST(sbb AS DOUBLE) / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE))
           AS DECIMAL(28,8)), 8) AS DOUBLE) AS energy_distance,
       CAST(ROUND(CAST(
           CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
           * (2.0 * CAST(sab AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
              - CAST(saa AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))
              - CAST(sbb AS DOUBLE) / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS t_stat
FROM sums CROSS JOIN totals
"""


def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over the three engagement actions (click / view /
    purchase, each a per-user binary "did it ≥15 times"): do the three
    action rates differ across the SAME users? The repeated-measures
    member of the association family — mcnemar_test is its k=2 special
    case; χ² would wrongly treat the columns as independent samples.

    Q = k(k−1)·Σ_j(G_j − T/k)² / (k·T − Σ_i L_i²) with column totals G_j,
    row sums L_i, grand total T — ALL exact integers from one per-user
    conditional aggregate (user-keyed, map-side combined) and one ≤3-row
    summary. k = 3 ⇒ df = 2, so the survival function is exp(−Q/2).
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type").isin("click", "view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.when(
                F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)) >= 15, 1
            )
            .otherwise(0)
            .alias("g1"),
            F.when(
                F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)) >= 15, 1
            )
            .otherwise(0)
            .alias("g2"),
            F.when(
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 15,
                1,
            )
            .otherwise(0)
            .alias("g3"),
        )
    )
    sums = per_user.select(
        "g1",
        "g2",
        "g3",
        (F.col("g1") + F.col("g2") + F.col("g3")).alias("l"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("g1").cast("long").alias("c1"),
        F.sum("g2").cast("long").alias("c2"),
        F.sum("g3").cast("long").alias("c3"),
        F.sum("l").cast("long").alias("t"),
        F.sum(F.col("l") * F.col("l")).cast("long").alias("l2"),
    )
    k = F.lit(3.0)
    tbar = F.col("t").cast("double") / k
    ss = (
        (F.col("c1").cast("double") - tbar) * (F.col("c1").cast("double") - tbar)
        + (F.col("c2").cast("double") - tbar) * (F.col("c2").cast("double") - tbar)
        + (F.col("c3").cast("double") - tbar) * (F.col("c3").cast("double") - tbar)
    )
    den = k * F.col("t").cast("double") - F.col("l2").cast("double")
    # every row-sum 0 or k (no within-user variation) → Q degenerates to 0
    q = F.when(den > 0.0, k * (k - 1.0) * ss / den).otherwise(F.lit(0.0))
    qs = snap_round(q, 6)
    p = F.exp(-qs / 2.0)
    return sums.select(
        "n_users",
        F.col("c1").alias("n_click"),
        F.col("c2").alias("n_view"),
        F.col("c3").alias("n_purchase"),
        qs.alias("q_stat"),
        snap_round(p, 6).alias("p_value"),
        (snap_round(p, 6) < 0.05).alias("significant"),
    )


COCHRAN_Q_SQL = """
WITH per_user AS (
    SELECT user_id,
           CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >= 15
                THEN 1 ELSE 0 END AS g1,
           CASE WHEN SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) >= 15
                THEN 1 ELSE 0 END AS g2,
           CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 15
                THEN 1 ELSE 0 END AS g3
    FROM events
    WHERE event_type IN ('click', 'view', 'purchase')
    GROUP BY user_id
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(g1) AS BIGINT) AS c1,
           CAST(SUM(g2) AS BIGINT) AS c2,
           CAST(SUM(g3) AS BIGINT) AS c3,
           CAST(SUM(g1 + g2 + g3) AS BIGINT) AS t,
           CAST(SUM((g1 + g2 + g3) * (g1 + g2 + g3)) AS BIGINT) AS l2
    FROM per_user
),
stat AS (
    SELECT n_users, c1, c2, c3,
           CAST(ROUND(CAST(
               CASE WHEN 3.0 * CAST(t AS DOUBLE) - CAST(l2 AS DOUBLE) > 0.0
               THEN 3.0 * 2.0
               * ((CAST(c1 AS DOUBLE) - CAST(t AS DOUBLE) / 3.0)
                  * (CAST(c1 AS DOUBLE) - CAST(t AS DOUBLE) / 3.0)
                  + (CAST(c2 AS DOUBLE) - CAST(t AS DOUBLE) / 3.0)
                  * (CAST(c2 AS DOUBLE) - CAST(t AS DOUBLE) / 3.0)
                  + (CAST(c3 AS DOUBLE) - CAST(t AS DOUBLE) / 3.0)
                  * (CAST(c3 AS DOUBLE) - CAST(t AS DOUBLE) / 3.0))
               / (3.0 * CAST(t AS DOUBLE) - CAST(l2 AS DOUBLE))
               ELSE 0.0 END
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS q
    FROM sums
)
SELECT n_users,
       c1 AS n_click, c2 AS n_view, c3 AS n_purchase,
       q AS q_stat,
       CAST(ROUND(CAST(EXP(-q / 2.0) AS DECIMAL(28,8)), 6) AS DOUBLE) AS p_value,
       CAST(ROUND(CAST(EXP(-q / 2.0) AS DECIMAL(28,8)), 6) AS DOUBLE) < 0.05
           AS significant
FROM stat
"""


def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley change detection on daily order revenue — the
    SEQUENTIAL drift monitor of the family (cusum_changepoint locates one
    retrospective break; PH is the online rule a monitoring job replays):
    m_t = Σ_{i≤t}(x_i − x̄_i − δ) with the RUNNING prefix mean x̄_i, alarm
    when m_t − min_{s≤t} m_s exceeds λ. δ and λ derive from the global
    snapped mean/std (δ = 1% of mean, λ = 5σ), so the rule is
    deterministic and scale-free.

    Every prefix quantity is a window over the bounded daily relation:
    prefix means snap at 6 dp, the deviation terms accumulate as exact
    decimals, the running minimum and the max excursion are two more
    windows — the replay is bit-identical across engines. Reports the
    max excursion, the λ threshold, the first alarm day, and the verdict.
    """
    daily = daily_revenue(spark, sf_dir, F.to_date("o_orderdate").alias("d"))
    gstats = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").alias("sr"),
        F.sum(F.col("r") * F.col("r")).alias("srr"),
    )
    n = F.col("n").cast("double")
    mu = F.col("sr").cast("double") / n
    sd = F.sqrt(F.col("srr").cast("double") / n - mu * mu)
    consts = gstats.select(
        F.round((0.01 * mu).cast("decimal(18,6)"), 6).alias("delta"),
        F.round((5.0 * sd).cast("decimal(18,6)"), 6).alias("lam"),
    )
    w = Window.orderBy("d")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    pref = daily.crossJoin(F.broadcast(consts)).select(
        "d",
        "r",
        "delta",
        "lam",
        F.round(
            (
                F.sum("r").over(wc).cast("double")
                / F.count(F.lit(1)).over(wc).cast("double")
            ).cast("decimal(18,6)"),
            6,
        ).alias("xbar"),
    )
    terms = pref.select(
        "d",
        "lam",
        (
            F.col("r").cast("decimal(18,6)")
            - F.col("xbar")
            - F.col("delta")
        ).alias("dev"),
    )
    cum = terms.select(
        "d",
        "lam",
        F.sum("dev").over(wc).alias("m"),
    )
    exc = cum.select(
        "d",
        "lam",
        (F.col("m") - F.min("m").over(wc)).cast("decimal(28,6)").alias("excursion"),
    )
    out = exc.agg(
        F.max(F.col("excursion").cast("double")).alias("max_exc"),
        F.max("lam").cast("double").alias("lam"),
        F.min(
            F.when(
                F.col("excursion").cast("double") > F.col("lam").cast("double"),
                F.col("d"),
            )
        ).alias("first_alarm_raw"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    return out.select(
        "n_days",
        snap_round(F.col("max_exc"), 4).alias("max_excursion"),
        snap_round(F.col("lam"), 4).alias("lambda_threshold"),
        F.coalesce(
            F.col("first_alarm_raw").cast("string"), F.lit("none")
        ).alias("first_alarm_day"),
        (F.col("max_exc") > F.col("lam")).alias("drift_detected"),
    )


PAGE_HINKLEY_SQL = f"""
WITH {daily_revenue_sql("CAST(o_orderdate AS DATE) AS d")},
gstats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(r) AS sr, SUM(r * r) AS srr
    FROM daily
),
consts AS (
    SELECT ROUND(CAST(0.01 * CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)
                 AS DECIMAL(18,6)), 6) AS delta,
           ROUND(CAST(5.0 * SQRT(CAST(srr AS DOUBLE) / CAST(n AS DOUBLE)
                      - (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)))
                 AS DECIMAL(18,6)), 6) AS lam
    FROM gstats
),
pref AS (
    SELECT d, r, delta, lam,
           ROUND(CAST(
               CAST(SUM(r) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               / CAST(COUNT(*) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               AS DECIMAL(18,6)), 6) AS xbar
    FROM daily CROSS JOIN consts
),
cum AS (
    SELECT d, lam,
           SUM(CAST(r AS DECIMAL(18,6)) - xbar - delta)
               OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS m
    FROM pref
),
exc AS (
    SELECT d, lam,
           CAST(m - MIN(m) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                AS DECIMAL(28,6)) AS excursion
    FROM cum
),
summed AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           MAX(CAST(excursion AS DOUBLE)) AS max_exc,
           MAX(CAST(lam AS DOUBLE)) AS lam,
           MIN(CASE WHEN CAST(excursion AS DOUBLE) > CAST(lam AS DOUBLE)
                    THEN d END) AS first_alarm_raw
    FROM exc
)
SELECT n_days,
       CAST(ROUND(CAST(max_exc AS DECIMAL(28,8)), 4) AS DOUBLE) AS max_excursion,
       CAST(ROUND(CAST(lam AS DECIMAL(28,8)), 4) AS DOUBLE) AS lambda_threshold,
       COALESCE(CAST(first_alarm_raw AS VARCHAR), 'none') AS first_alarm_day,
       max_exc > lam AS drift_detected
FROM summed
"""


def q_pot_gpd_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold Generalized Pareto fit to the upper tail of
    daily order revenue — the extreme-value companion to hill_tail_index
    (Hill assumes a pure power law; the GPD's shape ξ also admits the
    exponential (ξ=0) and bounded (ξ<0) tails a revenue series actually
    has). Threshold u = the 95th-percentile order statistic of the daily
    series; exceedances y = x−u fit by method of moments:
    ξ = (1 − m²/s²)/2, σ = m(m²/s² + 1)/2.

    The order statistic is one row_number over the bounded daily relation
    (the runs_test posture); exceedance moments are exact decimal power
    sums; the implied 10× rarer return level u + σ/ξ·(10^ξ − 1) checks
    the fit against intuition. One snapped formula each — deterministic.
    """
    daily = daily_revenue(spark, sf_dir, F.to_date("o_orderdate").alias("d"))
    wv = Window.orderBy(F.desc("r"), "d")
    ranked = daily.select(
        "r",
        F.row_number().over(wv).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_days"),
    )
    thresh = ranked.filter(
        F.col("rk") == F.ceil(F.col("n_days") * 0.05).cast("int")
    ).select(F.col("r").alias("u"))
    exceed = (
        daily.crossJoin(F.broadcast(thresh))
        .filter(F.col("r") > F.col("u"))
        .select("u", (F.col("r") - F.col("u")).cast("decimal(18,2)").alias("y"))
    )
    sums = exceed.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("n_exc"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    ne = F.col("n_exc").cast("double")
    m = F.col("sy").cast("double") / ne
    s2 = F.col("syy").cast("double") / ne - m * m
    ratio = m * m / s2
    xi = snap_round((1.0 - ratio) / 2.0, 6)
    sigma = snap_round(m * (ratio + 1.0) / 2.0, 4)
    return sums.select(
        F.col("u").cast("double").alias("threshold"),
        "n_exc",
        xi.alias("xi_shape"),
        sigma.alias("sigma_scale"),
        snap_round(
            F.col("u").cast("double")
            + sigma / xi * (F.pow(F.lit(10.0), xi) - 1.0),
            2,
        ).alias("return_level_10x"),
        (xi < 0.5).alias("finite_variance_tail"),
    )


POT_GPD_FIT_SQL = f"""
WITH {daily_revenue_sql("CAST(o_orderdate AS DATE) AS d")},
ranked AS (
    SELECT r, ROW_NUMBER() OVER (ORDER BY r DESC, d) AS rk,
           COUNT(*) OVER () AS n_days
    FROM daily
),
thresh AS (
    SELECT r AS u FROM ranked
    WHERE rk = CAST(CEIL(n_days * 0.05) AS INTEGER)
),
exceed AS (
    SELECT u, CAST(r - u AS DECIMAL(18,2)) AS y
    FROM daily CROSS JOIN thresh
    WHERE r > u
),
sums AS (
    SELECT u, CAST(COUNT(*) AS BIGINT) AS n_exc,
           SUM(y) AS sy, SUM(y * y) AS syy
    FROM exceed GROUP BY u
),
fit AS (
    SELECT CAST(u AS DOUBLE) AS threshold, n_exc,
           CAST(ROUND(CAST(
               (1.0 - (CAST(sy AS DOUBLE) / CAST(n_exc AS DOUBLE))
                      * (CAST(sy AS DOUBLE) / CAST(n_exc AS DOUBLE))
                      / (CAST(syy AS DOUBLE) / CAST(n_exc AS DOUBLE)
                         - (CAST(sy AS DOUBLE) / CAST(n_exc AS DOUBLE))
                           * (CAST(sy AS DOUBLE) / CAST(n_exc AS DOUBLE)))) / 2.0
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS xi_shape,
           CAST(ROUND(CAST(
               (CAST(sy AS DOUBLE) / CAST(n_exc AS DOUBLE))
               * ((CAST(sy AS DOUBLE) / CAST(n_exc AS DOUBLE))
                  * (CAST(sy AS DOUBLE) / CAST(n_exc AS DOUBLE))
                  / (CAST(syy AS DOUBLE) / CAST(n_exc AS DOUBLE)
                     - (CAST(sy AS DOUBLE) / CAST(n_exc AS DOUBLE))
                       * (CAST(sy AS DOUBLE) / CAST(n_exc AS DOUBLE))) + 1.0) / 2.0
               AS DECIMAL(28,8)), 4) AS DOUBLE) AS sigma_scale
    FROM sums
)
SELECT threshold, n_exc, xi_shape, sigma_scale,
       CAST(ROUND(CAST(
           threshold + sigma_scale / xi_shape * (POW(10.0, xi_shape) - 1.0)
           AS DECIMAL(28,8)), 2) AS DOUBLE) AS return_level_10x,
       xi_shape < 0.5 AS finite_variance_tail
FROM fit
"""


def q_synthetic_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic-control estimate of NATION_0's post-period monthly revenue
    effect: a weighted blend of the 24 donor nations, weights softmaxed on
    pre-period fit (w_j ∝ exp(−MSE_j/τ), τ = the donors' mean MSE — the
    deterministic closed-form surrogate for Abadie's constrained
    regression, which needs a QP solver the relational engine shouldn't
    own). diff_in_diff assumes parallel trends; synthetic control BUILDS
    the parallel counterfactual and shows the gap month by month.

    Monthly nation revenue is one keyed aggregate off the orders×customer
    join; the pre-period split is the month-index midpoint (dense_rank
    over the bounded month relation); per-donor MSEs are exact decimal
    power sums of snapped monthly gaps; weights snap at 10 dp so the
    blend Σw_j·y_j(t) is exact decimal algebra. Output: every post month
    with actual, synthetic, and gap, plus the pre-period mean gap as a
    fit diagnostic in each row.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev"))
        .localCheckpoint()  # consumers: treated path, donors, month index
    )
    months = monthly.select("m").distinct()
    wm = Window.orderBy("m")
    idx = months.select(
        "m",
        F.row_number().over(wm).alias("mi"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_m"),
    ).select("m", "mi", (F.col("mi") <= F.floor(F.col("n_m") / 2)).alias("is_pre"))
    series = monthly.join(F.broadcast(idx), "m")
    treated = series.filter(F.col("nk") == 0).select(
        "m", "mi", "is_pre", F.col("rev").alias("y_t")
    )
    donors = series.filter(F.col("nk") != 0).select(
        "nk", "m", F.col("rev").alias("y_d")
    )
    pre_fit = (
        donors.join(treated.filter("is_pre").select("m", "y_t"), "m")
        .groupBy("nk")
        .agg(
            F.sum(
                F.round(
                    (
                        (F.col("y_d") - F.col("y_t")).cast("double")
                        * (F.col("y_d") - F.col("y_t")).cast("double")
                    ).cast("decimal(30,4)"),
                    4,
                )
            ).alias("sse"),
            F.count(F.lit(1)).cast("long").alias("n_pre"),
        )
        .select(
            "nk",
            F.round(
                (F.col("sse").cast("double") / F.col("n_pre").cast("double")).cast(
                    "decimal(30,4)"
                ),
                4,
            ).alias("mse"),
        )
        .localCheckpoint()  # consumers: tau + weights
    )
    tau = pre_fit.agg(
        F.round(
            (F.sum("mse") / F.count(F.lit(1))).cast("decimal(30,4)"), 4
        ).alias("tau")
    )
    # tau = 0 ⟺ every donor fits the pre-period perfectly → uniform blend
    raw_w = pre_fit.crossJoin(F.broadcast(tau)).select(
        "nk",
        F.when(F.col("tau") == 0, F.lit(1).cast("decimal(16,10)"))
        .otherwise(
            F.round(
                F.exp(
                    -(F.col("mse").cast("double") / F.col("tau").cast("double"))
                ).cast("decimal(16,10)"),
                10,
            )
        )
        .alias("rw"),
    )
    z = raw_w.agg(F.sum("rw").alias("z"))
    weights = raw_w.crossJoin(F.broadcast(z)).select(
        "nk",
        F.round(
            (F.col("rw").cast("double") / F.col("z").cast("double")).cast(
                "decimal(16,10)"
            ),
            10,
        ).alias("w"),
    )
    synth = (
        donors.join(F.broadcast(weights), "nk")
        .groupBy("m")
        .agg(
            F.sum(
                F.round(
                    (F.col("w").cast("double") * F.col("y_d").cast("double")).cast(
                        "decimal(24,6)"
                    ),
                    6,
                )
            ).alias("y_s")
        )
    )
    joined = treated.join(synth, "m").localCheckpoint()
    pre_gap = joined.filter("is_pre").agg(
        F.round(
            (
                F.sum((F.col("y_t").cast("decimal(24,6)") - F.col("y_s")))
                / F.count(F.lit(1))
            ).cast("decimal(24,6)"),
            4,
        ).alias("pre_mean_gap")
    )
    return (
        joined.filter(~F.col("is_pre"))
        .crossJoin(F.broadcast(pre_gap))
        .select(
            F.col("m").alias("month"),
            F.col("y_t").cast("double").alias("actual"),
            snap_round(F.col("y_s").cast("double"), 2).alias("synthetic"),
            snap_round(
                F.col("y_t").cast("double") - F.col("y_s").cast("double"), 2
            ).alias("gap"),
            F.col("pre_mean_gap").cast("double").alias("pre_mean_gap"),
        )
        .orderBy("month")
    )


SYNTHETIC_CONTROL_SQL = """
WITH monthly AS (
    SELECT c_nationkey AS nk,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
           SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
),
idx AS (
    SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS mi, COUNT(*) OVER () AS n_m
    FROM (SELECT DISTINCT m FROM monthly)
),
idx2 AS (SELECT m, mi, mi <= n_m // 2 AS is_pre FROM idx),
series AS (SELECT nk, monthly.m, rev, is_pre FROM monthly JOIN idx2 USING (m)),
treated AS (SELECT m, is_pre, rev AS y_t FROM series WHERE nk = 0),
donors AS (SELECT nk, m, rev AS y_d FROM series WHERE nk <> 0),
pre_fit AS (
    SELECT nk,
           ROUND(CAST(CAST(SUM(ROUND(CAST(
               CAST(y_d - y_t AS DOUBLE) * CAST(y_d - y_t AS DOUBLE)
               AS DECIMAL(30,4)), 4)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS DECIMAL(30,4)), 4) AS mse
    FROM donors JOIN (SELECT m, y_t FROM treated WHERE is_pre) USING (m)
    GROUP BY nk
),
tau AS (SELECT ROUND(CAST(SUM(mse) / COUNT(*) AS DECIMAL(30,4)), 4) AS tau
        FROM pre_fit),
raw_w AS (
    SELECT nk,
           CASE WHEN tau = 0 THEN CAST(1 AS DECIMAL(16,10))
                ELSE ROUND(CAST(EXP(-(CAST(mse AS DOUBLE) / CAST(tau AS DOUBLE)))
                     AS DECIMAL(16,10)), 10) END AS rw
    FROM pre_fit CROSS JOIN tau
),
z AS (SELECT SUM(rw) AS z FROM raw_w),
weights AS (
    SELECT nk,
           ROUND(CAST(CAST(rw AS DOUBLE) / CAST(z AS DOUBLE)
                 AS DECIMAL(16,10)), 10) AS w
    FROM raw_w CROSS JOIN z
),
synth AS (
    SELECT m,
           SUM(ROUND(CAST(CAST(w AS DOUBLE) * CAST(y_d AS DOUBLE)
               AS DECIMAL(24,6)), 6)) AS y_s
    FROM donors JOIN weights USING (nk)
    GROUP BY m
),
joined AS (
    SELECT m, is_pre, y_t, y_s FROM treated JOIN synth USING (m)
),
pre_gap AS (
    SELECT ROUND(CAST(SUM(CAST(y_t AS DECIMAL(24,6)) - y_s) / COUNT(*)
                 AS DECIMAL(24,6)), 4) AS pre_mean_gap
    FROM joined WHERE is_pre
)
SELECT m AS month,
       CAST(y_t AS DOUBLE) AS actual,
       CAST(ROUND(CAST(CAST(y_s AS DOUBLE) AS DECIMAL(28,8)), 2) AS DOUBLE)
           AS synthetic,
       CAST(ROUND(CAST(CAST(y_t AS DOUBLE) - CAST(y_s AS DOUBLE)
            AS DECIMAL(28,8)), 2) AS DOUBLE) AS gap,
       CAST(pre_mean_gap AS DOUBLE) AS pre_mean_gap
FROM joined CROSS JOIN pre_gap
WHERE NOT is_pre
ORDER BY month
"""


def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain: H = −Σ_s π̂(s)
    Σ_t p(t|s)·ln p(t|s), with π̂ the empirical from-state frequency —
    the single number that says how PREDICTABLE user behavior is
    (event_transitions shows the matrix; markov2_transitions asks if one
    step of memory suffices; this is the chain's compression limit,
    comparable across cohorts and over time). Also reports the 0-memory
    baseline H₀ = −Σ p(s)·ln p(s) and the predictability gain H₀ − H.

    Transitions are one lead() per user-keyed window over events; the
    ≤k² transition matrix aggregates exactly; each −π·p·ln p term snaps
    at 10 dp and sums as exact decimals. One keyed shuffle past the scan.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w).alias("t"),
        )
        .filter(F.col("t").isNotNull())
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()  # consumers: row sums, grand total, terms
    )
    row_tot = trans.groupBy("s").agg(F.sum("c").cast("long").alias("cs"))
    grand = trans.agg(F.sum("c").cast("long").alias("n"))
    terms = (
        trans.join(F.broadcast(row_tot), "s")
        .crossJoin(F.broadcast(grand))
        .select(
            "n",
            F.round(
                (
                    -(F.col("cs").cast("double") / F.col("n").cast("double"))
                    * (F.col("c").cast("double") / F.col("cs").cast("double"))
                    * F.log(F.col("c").cast("double") / F.col("cs").cast("double"))
                ).cast("decimal(16,10)"),
                10,
            ).alias("h_term"),
        )
    )
    h = terms.groupBy("n").agg(F.sum("h_term").alias("h"))
    base_terms = row_tot.crossJoin(F.broadcast(grand)).select(
        F.round(
            (
                -(F.col("cs").cast("double") / F.col("n").cast("double"))
                * F.log(F.col("cs").cast("double") / F.col("n").cast("double"))
            ).cast("decimal(16,10)"),
            10,
        ).alias("h0_term")
    )
    h0 = base_terms.agg(F.sum("h0_term").alias("h0"))
    out = h.crossJoin(F.broadcast(h0))
    return out.select(
        F.col("n").alias("n_transitions"),
        snap_round(F.col("h").cast("double"), 6).alias("entropy_rate"),
        snap_round(F.col("h0").cast("double"), 6).alias("zero_memory_entropy"),
        snap_round(
            F.col("h0").cast("double") - F.col("h").cast("double"), 6
        ).alias("predictability_gain"),
    )


MARKOV_ENTROPY_RATE_SQL = """
WITH trans AS (
    SELECT s, t, CAST(COUNT(*) AS BIGINT) AS c
    FROM (
        SELECT event_type AS s,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS t
        FROM events
    )
    WHERE t IS NOT NULL
    GROUP BY s, t
),
row_tot AS (SELECT s, CAST(SUM(c) AS BIGINT) AS cs FROM trans GROUP BY s),
grand AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM trans),
h AS (
    SELECT n, SUM(ROUND(CAST(
        -(CAST(cs AS DOUBLE) / CAST(n AS DOUBLE))
        * (CAST(c AS DOUBLE) / CAST(cs AS DOUBLE))
        * LN(CAST(c AS DOUBLE) / CAST(cs AS DOUBLE))
        AS DECIMAL(16,10)), 10)) AS h
    FROM trans JOIN row_tot USING (s) CROSS JOIN grand
    GROUP BY n
),
h0 AS (
    SELECT SUM(ROUND(CAST(
        -(CAST(cs AS DOUBLE) / CAST(n AS DOUBLE))
        * LN(CAST(cs AS DOUBLE) / CAST(n AS DOUBLE))
        AS DECIMAL(16,10)), 10)) AS h0
    FROM row_tot CROSS JOIN grand
)
SELECT n AS n_transitions,
       CAST(ROUND(CAST(CAST(h AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS entropy_rate,
       CAST(ROUND(CAST(CAST(h0 AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS zero_memory_entropy,
       CAST(ROUND(CAST(CAST(h0 AS DOUBLE) - CAST(h AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS predictability_gain
FROM h CROSS JOIN h0
"""


def q_woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information Value of quantity bands for
    predicting a return — the credit-scoring feature-screening standard
    (IV < 0.02 useless, 0.1–0.3 medium, > 0.5 suspicious) that
    complements info_gain_brand (entropy split) with the log-odds view a
    scorecard actually uses. WOE_b = ln((good_b/G)/(bad_b/B)); IV =
    Σ_b (good_b/G − bad_b/B)·WOE_b.

    Quantity's bounded support folds into 5 fixed 10-wide bands in ONE
    conditional aggregate (map-side combined); each band's WOE is one
    snapped log-ratio of exact integer shares, and the IV terms snap and
    sum as decimals carried on every row (the long-format report a
    feature dashboard joins against). Zero-cell bands take the standard
    0.5 Laplace adjustment so the log never sees 0 — identically in both
    engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    banded = li.select(
        F.least(
            F.lit(4), ((F.col("l_quantity").cast("long") - 1) / 10).cast("long")
        ).alias("band"),
        (F.col("l_returnflag") == "R").alias("bad"),
    )
    per_band = banded.groupBy("band").agg(
        F.sum(F.when(F.col("bad"), 0).otherwise(1)).cast("long").alias("n_good"),
        F.sum(F.when(F.col("bad"), 1).otherwise(0)).cast("long").alias("n_bad"),
    )
    tot = per_band.agg(
        F.sum("n_good").cast("long").alias("g"),
        F.sum("n_bad").cast("long").alias("b"),
    )
    adj = lambda c: F.when(c == 0, 0.5).otherwise(c.cast("double"))  # noqa: E731
    rows = per_band.crossJoin(F.broadcast(tot)).select(
        "band",
        "n_good",
        "n_bad",
        F.round(
            F.log(
                (adj(F.col("n_good")) / F.col("g").cast("double"))
                / (adj(F.col("n_bad")) / F.col("b").cast("double"))
            ).cast("decimal(16,10)"),
            10,
        ).alias("woe_raw"),
        F.round(
            (
                adj(F.col("n_good")) / F.col("g").cast("double")
                - adj(F.col("n_bad")) / F.col("b").cast("double")
            ).cast("decimal(16,10)"),
            10,
        ).alias("share_gap"),
    )
    terms = rows.select(
        "band",
        "n_good",
        "n_bad",
        "woe_raw",
        (F.col("share_gap") * F.col("woe_raw")).cast("decimal(20,12)").alias("iv_term"),
    )
    iv = terms.agg(F.sum("iv_term").alias("iv"))
    return (
        terms.crossJoin(F.broadcast(iv))
        .select(
            (F.col("band") * 10 + 1).cast("long").alias("band_lo"),
            ((F.col("band") + 1) * 10).cast("long").alias("band_hi"),
            "n_good",
            "n_bad",
            snap_round(F.col("woe_raw").cast("double"), 6).alias("woe"),
            snap_round(F.col("iv").cast("double"), 6).alias("information_value"),
        )
        .orderBy("band_lo")
    )


WOE_INFORMATION_VALUE_SQL = """
WITH banded AS (
    SELECT LEAST(4, (CAST(l_quantity AS BIGINT) - 1) // 10) AS band,
           l_returnflag = 'R' AS bad
    FROM lineitem
),
per_band AS (
    SELECT band,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT) AS n_good,
           CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
    FROM banded GROUP BY band
),
tot AS (
    SELECT CAST(SUM(n_good) AS BIGINT) AS g, CAST(SUM(n_bad) AS BIGINT) AS b
    FROM per_band
),
rows_ AS (
    SELECT band, n_good, n_bad,
           ROUND(CAST(LN(
               (CASE WHEN n_good = 0 THEN 0.5 ELSE CAST(n_good AS DOUBLE) END
                / CAST(g AS DOUBLE))
               / (CASE WHEN n_bad = 0 THEN 0.5 ELSE CAST(n_bad AS DOUBLE) END
                  / CAST(b AS DOUBLE))) AS DECIMAL(16,10)), 10) AS woe_raw,
           ROUND(CAST(
               CASE WHEN n_good = 0 THEN 0.5 ELSE CAST(n_good AS DOUBLE) END
               / CAST(g AS DOUBLE)
               - CASE WHEN n_bad = 0 THEN 0.5 ELSE CAST(n_bad AS DOUBLE) END
                 / CAST(b AS DOUBLE)
               AS DECIMAL(16,10)), 10) AS share_gap
    FROM per_band CROSS JOIN tot
),
terms AS (
    SELECT band, n_good, n_bad, woe_raw,
           CAST(share_gap * woe_raw AS DECIMAL(20,12)) AS iv_term
    FROM rows_
),
iv AS (SELECT SUM(iv_term) AS iv FROM terms)
SELECT CAST(band * 10 + 1 AS BIGINT) AS band_lo,
       CAST((band + 1) * 10 AS BIGINT) AS band_hi,
       n_good, n_bad,
       CAST(ROUND(CAST(CAST(woe_raw AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS woe,
       CAST(ROUND(CAST(CAST(iv AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS information_value
FROM terms CROSS JOIN iv
ORDER BY band_lo
"""


def q_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact conditional test (the C-test) comparing the error-event rate
    between the first and second half of the observation window: given
    x₁ + x₂ = n errors over equal exposures, x₁ ~ Binomial(n, 1/2) under
    H₀ (equal rates) — the EXACT inference χ² only approximates, and the
    natural companion to fisher_exact_test for COUNT data (incidents,
    failures, alerts).

    The two-sided p-value reuses the log-factorial-ladder discipline
    (quality.fisher_exact_test): lf(i) is one cumulative window of
    8-dp-snapped logs, each table's log-probability lp(k) = lf(n) −
    lf(k) − lf(n−k) − n·ln2 is exact decimal algebra, the two-sided
    selection lp(k) ≤ lp(x₁) is an exact-decimal comparison, and the
    max-shifted tail sum is stable even when p underflows. The midpoint
    split is derived from the data's own min/max timestamp — no
    calendar constant to disagree on (exact integer microseconds — the
    engines' timestamp/interval midpoint semantics differ, epoch_us does
    not).
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("us_lo"),
        F.max(F.unix_micros("ts")).alias("us_hi"),
    ).select(
        F.floor((F.col("us_lo") + F.col("us_hi")) / 2).cast("long").alias("us_mid")
    )
    counts = (
        ev.filter(F.col("event_type") == "error")
        .crossJoin(F.broadcast(bounds))
        .agg(
            F.sum(F.when(F.unix_micros("ts") < F.col("us_mid"), 1).otherwise(0))
            .cast("long")
            .alias("x1"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .collect()[0]
    )
    x1, n = int(counts.x1 or 0), int(counts.n or 0)
    ladder = (
        spark.range(0, n + 1)
        .select(
            F.col("id").alias("i"),
            F.when(F.col("id") == 0, F.lit(0).cast("decimal(18,8)"))
            .otherwise(
                F.round(F.log(F.col("id").cast("double")).cast("decimal(18,8)"), 8)
            )
            .alias("ln_i"),
        )
        .select(
            "i",
            F.sum("ln_i")
            .over(Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0))
            .cast("decimal(28,8)")
            .alias("lf"),
        )
        .localCheckpoint()  # 3 lookups per k-row reuse it
    )
    lf_n = ladder.filter(F.col("i") == n).select(F.col("lf").alias("lf_n"))
    ln2 = F.round(F.log(F.lit(2.0)).cast("decimal(18,8)"), 8)
    ks = spark.range(0, n + 1).select(F.col("id").alias("k"))
    lp = (
        ks.join(ladder.select(F.col("i").alias("ik"), F.col("lf").alias("lf_k")),
                F.col("k") == F.col("ik"))
        .join(
            ladder.select(F.col("i").alias("ink"), F.col("lf").alias("lf_nk")),
            F.lit(n) - F.col("k") == F.col("ink"),
        )
        .crossJoin(F.broadcast(lf_n))
        .select(
            "k",
            (
                F.col("lf_n")
                - F.col("lf_k")
                - F.col("lf_nk")
                - (F.lit(n).cast("decimal(18,0)") * ln2).cast("decimal(28,8)")
            )
            .cast("decimal(28,8)")
            .alias("lp"),
        )
        .localCheckpoint()  # observed row + selection + shift reuse it
    )
    lp_obs = lp.filter(F.col("k") == x1).select(F.col("lp").alias("lp_obs"))
    sel = lp.crossJoin(F.broadcast(lp_obs)).filter(F.col("lp") <= F.col("lp_obs"))
    m_row = sel.agg(F.max("lp").alias("m"), F.count(F.lit(1)).alias("support"))
    summed = (
        sel.crossJoin(F.broadcast(m_row))
        .select(
            "m",
            "support",
            F.round(
                F.exp((F.col("lp") - F.col("m")).cast("double")).cast("decimal(14,12)"),
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
        F.lit(n).cast("long").alias("n_errors"),
        F.lit(x1).cast("long").alias("first_half"),
        F.lit(n - x1).cast("long").alias("second_half"),
        F.col("support").cast("long").alias("tables_in_tail"),
        snap_round(F.exp(lnp), 6).alias("p_value"),
        (lnp < -2.995732273553991).alias("significant"),  # ln 0.05
    )


POISSON_RATE_TEST_SQL = """
WITH bounds AS (
    SELECT CAST(FLOOR((MIN(epoch_us(ts)) + MAX(epoch_us(ts))) / 2.0) AS BIGINT)
        AS us_mid
    FROM events
),
counts AS (
    SELECT CAST(SUM(CASE WHEN epoch_us(ts) < us_mid THEN 1 ELSE 0 END) AS BIGINT)
        AS x1,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events CROSS JOIN bounds
    WHERE event_type = 'error'
),
ladder AS (
    SELECT i,
           CAST(SUM(CASE WHEN i = 0 THEN CAST(0 AS DECIMAL(18,8))
                         ELSE ROUND(CAST(LN(CAST(i AS DOUBLE)) AS DECIMAL(18,8)), 8)
                    END)
               OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS DECIMAL(28,8)) AS lf
    FROM range(0, 1000001) t(i)
    WHERE i <= (SELECT n FROM counts)
),
lf_n AS (SELECT lf AS lf_n FROM ladder WHERE i = (SELECT n FROM counts)),
lp AS (
    SELECT ks.k,
           CAST(lf_n
                - k_l.lf - nk_l.lf
                - CAST(CAST((SELECT n FROM counts) AS DECIMAL(18,0))
                       * ROUND(CAST(LN(2.0) AS DECIMAL(18,8)), 8)
                       AS DECIMAL(28,8))
                AS DECIMAL(28,8)) AS lp
    FROM (SELECT i AS k FROM range(0, 1000001) t(i)
          WHERE i <= (SELECT n FROM counts)) ks
    JOIN ladder k_l ON k_l.i = ks.k
    JOIN ladder nk_l ON nk_l.i = (SELECT n FROM counts) - ks.k
    CROSS JOIN lf_n
),
obs AS (SELECT lp AS lp_obs FROM lp WHERE k = (SELECT x1 FROM counts)),
sel AS (SELECT lp.* FROM lp CROSS JOIN obs WHERE lp <= lp_obs),
m_row AS (SELECT MAX(lp) AS m, CAST(COUNT(*) AS BIGINT) AS support FROM sel),
summed AS (
    SELECT m, support,
           SUM(ROUND(CAST(EXP(CAST(lp - m AS DOUBLE)) AS DECIMAL(14,12)), 12)) AS s
    FROM sel CROSS JOIN m_row
    GROUP BY m, support
)
SELECT (SELECT n FROM counts) AS n_errors,
       (SELECT x1 FROM counts) AS first_half,
       (SELECT n - x1 FROM counts) AS second_half,
       support AS tables_in_tail,
       CAST(ROUND(CAST(EXP(
           CAST(m AS DOUBLE)
           + CAST(ROUND(CAST(LN(CAST(s AS DOUBLE)) AS DECIMAL(18,9)), 9) AS DOUBLE))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS p_value,
       (CAST(m AS DOUBLE)
        + CAST(ROUND(CAST(LN(CAST(s AS DOUBLE)) AS DECIMAL(18,9)), 9) AS DOUBLE))
           < -2.995732273553991 AS significant
FROM summed
"""


def q_stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend and seasonal STRENGTH of the daily revenue series (Hyndman's
    STL diagnostics): F_trend = max(0, 1 − var(R)/var(T+R)) and
    F_seasonal = max(0, 1 − var(R)/var(S+R)) over the seasonal_decompose
    components — the two numbers that tell a forecasting pipeline which
    model family to even consider (trend-dominated → drift terms,
    seasonal-dominated → the day-of-week model forecast.py fits).

    Recomputes the decomposition with temporal.seasonal_decompose's exact
    discipline (decimal 7-day trend frames, snapped detrended values,
    dow-mean seasonal), then takes variances of the SNAPPED component
    columns via decimal power sums — every input to the final ratios is
    bit-identical across engines. Bounded daily relation throughout.
    """
    o = load_table(spark, sf_dir, "orders")
    d = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
    daily = (
        o.select(d.alias("d"), F.col("o_totalprice").cast("decimal(12,2)").alias("p"))
        .groupBy("d")
        .agg(F.sum("p").cast("decimal(18,2)").alias("y"))
    )
    wd = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.select(
        "d",
        "y",
        F.when(
            F.count(F.lit(1)).over(wd) == 7,
            F.round((F.sum("y").over(wd).cast("double") / 7.0).cast("decimal(28,8)"), 6)
            .cast("decimal(18,6)"),
        ).alias("trend"),
    ).filter(F.col("trend").isNotNull())
    det = trended.select(
        "d",
        "trend",
        (F.col("y").cast("decimal(18,6)") - F.col("trend")).alias("detrended"),
        (F.col("d") % 7).alias("dow"),
    )
    seas = det.groupBy("dow").agg(
        F.round(
            (F.sum("detrended").cast("double") / F.count(F.lit(1)).cast("double")).cast(
                "decimal(18,6)"
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("seasonal")
    )
    # T+R = y − seasonal = trend + resid: recompute from components
    with_tr = (
        det.join(F.broadcast(seas), "dow")
        .select(
            (F.col("detrended") - F.col("seasonal")).alias("resid"),
            (F.col("trend") + F.col("detrended") - F.col("seasonal")).alias("tr"),
            F.col("detrended").alias("sr"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("resid").alias("s_r"),
            # squares snap through double per term (identical in both
            # engines) then sum as exact decimals — a direct decimal
            # product overflows DuckDB's 38-digit cap at wide scales
            F.sum(
                F.round(
                    (F.col("resid").cast("double") * F.col("resid").cast("double"))
                    .cast("decimal(30,6)"),
                    6,
                )
            ).alias("ss_r"),
            F.sum("tr").alias("s_tr"),
            F.sum(
                F.round(
                    (F.col("tr").cast("double") * F.col("tr").cast("double")).cast(
                        "decimal(30,6)"
                    ),
                    6,
                )
            ).alias("ss_tr"),
            F.sum("sr").alias("s_sr"),
            F.sum(
                F.round(
                    (F.col("sr").cast("double") * F.col("sr").cast("double")).cast(
                        "decimal(30,6)"
                    ),
                    6,
                )
            ).alias("ss_sr"),
        )
    )
    n = F.col("n").cast("double")

    def vr(s_, ss_, n_):
        return ss_.cast("double") / n_ - (s_.cast("double") / n_) * (
            s_.cast("double") / n_
        )

    var_r = vr(F.col("s_r"), F.col("ss_r"), n)
    var_tr = vr(F.col("s_tr"), F.col("ss_tr"), n)
    var_sr = vr(F.col("s_sr"), F.col("ss_sr"), n)
    # a component variance below 1e-6 means that signal is absent at the
    # snap resolution — strength is 0 by convention, not a 0/0 gamble
    return with_tr.select(
        F.col("n").alias("n_days"),
        F.when(
            var_tr > 1e-6,
            snap_round(F.greatest(F.lit(0.0), 1.0 - var_r / var_tr), 6),
        )
        .otherwise(0.0)
        .alias("trend_strength"),
        F.when(
            var_sr > 1e-6,
            snap_round(F.greatest(F.lit(0.0), 1.0 - var_r / var_sr), 6),
        )
        .otherwise(0.0)
        .alias("seasonal_strength"),
    )


STL_STRENGTH_SQL = """
WITH daily AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS y
    FROM orders GROUP BY 1
),
trended AS (
    SELECT d, y,
           CASE WHEN COUNT(*) OVER w = 7
                THEN CAST(ROUND(CAST(CAST(SUM(y) OVER w AS DOUBLE) / 7.0
                          AS DECIMAL(28,8)), 6) AS DECIMAL(18,6)) END AS trend
    FROM daily
    WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    QUALIFY trend IS NOT NULL
),
det AS (
    SELECT d, trend,
           CAST(y AS DECIMAL(18,6)) - trend AS detrended,
           d % 7 AS dow
    FROM trended
),
seas AS (
    SELECT dow,
           CAST(ROUND(CAST(CAST(SUM(detrended) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                AS DECIMAL(18,6)), 6) AS DECIMAL(18,6)) AS seasonal
    FROM det GROUP BY dow
),
with_tr AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           SUM(detrended - seasonal) AS s_r,
           SUM(ROUND(CAST(CAST(detrended - seasonal AS DOUBLE)
               * CAST(detrended - seasonal AS DOUBLE) AS DECIMAL(30,6)), 6)) AS ss_r,
           SUM(trend + detrended - seasonal) AS s_tr,
           SUM(ROUND(CAST(CAST(trend + detrended - seasonal AS DOUBLE)
               * CAST(trend + detrended - seasonal AS DOUBLE)
               AS DECIMAL(30,6)), 6)) AS ss_tr,
           SUM(detrended) AS s_sr,
           SUM(ROUND(CAST(CAST(detrended AS DOUBLE) * CAST(detrended AS DOUBLE)
               AS DECIMAL(30,6)), 6)) AS ss_sr
    FROM det JOIN seas USING (dow)
)
SELECT n AS n_days,
       CASE WHEN (CAST(ss_tr AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s_tr AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s_tr AS DOUBLE) / CAST(n AS DOUBLE))) > 1e-6
       THEN CAST(ROUND(CAST(GREATEST(0.0,
           1.0 - (CAST(ss_r AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s_r AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s_r AS DOUBLE) / CAST(n AS DOUBLE)))
                 / (CAST(ss_tr AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(s_tr AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s_tr AS DOUBLE) / CAST(n AS DOUBLE))))
           AS DECIMAL(28,8)), 6) AS DOUBLE) ELSE 0.0 END AS trend_strength,
       CASE WHEN (CAST(ss_sr AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s_sr AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s_sr AS DOUBLE) / CAST(n AS DOUBLE))) > 1e-6
       THEN CAST(ROUND(CAST(GREATEST(0.0,
           1.0 - (CAST(ss_r AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s_r AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s_r AS DOUBLE) / CAST(n AS DOUBLE)))
                 / (CAST(ss_sr AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(s_sr AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s_sr AS DOUBLE) / CAST(n AS DOUBLE))))
           AS DECIMAL(28,8)), 6) AS DOUBLE) ELSE 0.0 END AS seasonal_strength
FROM with_tr
"""


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the part co-purchase graph: φ(k) = density
    of the subgraph induced by parts with degree > k, for k ∈ {2, 4, 8,
    16} — do the best-connected parts preferentially connect to EACH
    OTHER (φ rising with k), the hub-interconnection diagnostic that
    complements graph_assortativity (a single correlation) with the
    full club profile.

    Edges are distinct part pairs co-occurring in an order (bounded
    pairs-per-order — ≤C(7,2) for TPC-H line counts, never quadratic in
    the table); degrees are one keyed aggregate over the deduped edge
    set; each club's edge count is the edge relation joined against the
    club membership on BOTH endpoints (broadcast of the shrinking node
    set). Exact integer counts, one snapped density per k.
    """
    # round-7: same distinct-pair relation as before, built on the
    # _copurchase_edges collect_set discipline (min_orders=1) instead of
    # the lineitem self-join + distinct — one map-side-combined shuffle +
    # in-map pair generation replaces the self-join's two fact shuffles
    from candyspark.plans.graph import _copurchase_edges
    from candyspark.sources.readers import fan_out

    edges = (
        _copurchase_edges(spark, sf_dir, min_orders=1)
        .select(F.col("u").alias("a"), F.col("v").alias("b"))
        .localCheckpoint()  # consumers: degrees + per-club edge counts
    )
    # see q_katz_centrality: AQE coalesces the small distinct output to 1-2
    # partitions, serializing the downstream joins; conditional re-spread
    fanned = fan_out(edges)
    if fanned is not edges:
        edges = fanned.localCheckpoint()
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    ks = spark.range(1, 5).select(
        F.pow(F.lit(2.0), F.col("id").cast("double")).cast("long").alias("k")
    )
    club = deg.crossJoin(F.broadcast(ks)).filter(F.col("deg") > F.col("k")).select(
        "k", "v"
    )
    n_club = club.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_k"))
    # every threshold reports, including empty clubs (left join from ks)
    e_club = (
        edges.join(club.select("k", F.col("v").alias("a")), "a")
        .join(club.select(F.col("k").alias("k2"), F.col("v").alias("b")), "b")
        .filter(F.col("k") == F.col("k2"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("e_k"))
    )
    out = (
        ks.join(n_club, "k", "left")
        .join(e_club, "k", "left")
        .select(
            "k",
            F.coalesce(F.col("n_k"), F.lit(0)).cast("long").alias("n_k"),
            F.coalesce(F.col("e_k"), F.lit(0)).cast("long").alias("e_k"),
        )
    )
    phi = F.when(
        F.col("n_k") > 1,
        snap_round(
            (2 * F.col("e_k")).cast("double")
            / (F.col("n_k") * (F.col("n_k") - 1)).cast("double"),
            6,
        ),
    )
    return out.select(
        F.col("k").alias("degree_threshold"),
        F.col("n_k").alias("club_size"),
        F.col("e_k").alias("club_edges"),
        phi.alias("phi"),
    ).orderBy("degree_threshold")


RICH_CLUB_SQL = """
WITH edges AS (
    SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
    SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
    FROM (SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
    GROUP BY v
),
ks AS (SELECT CAST(POW(2.0, k) AS BIGINT) AS k
       FROM (SELECT unnest(range(1, 5)) AS k)),
club AS (
    SELECT k, v FROM deg CROSS JOIN ks WHERE deg > k
),
n_club AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k FROM club GROUP BY k),
e_club AS (
    SELECT ca.k, CAST(COUNT(*) AS BIGINT) AS e_k
    FROM edges
    JOIN club ca ON edges.a = ca.v
    JOIN club cb ON edges.b = cb.v AND ca.k = cb.k
    GROUP BY ca.k
)
SELECT ks.k AS degree_threshold,
       CAST(COALESCE(n_k, 0) AS BIGINT) AS club_size,
       CAST(COALESCE(e_k, 0) AS BIGINT) AS club_edges,
       CASE WHEN COALESCE(n_k, 0) > 1 THEN
           CAST(ROUND(CAST(CAST(2 * COALESCE(e_k, 0) AS DOUBLE)
                / CAST(n_k * (n_k - 1) AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE)
       END AS phi
FROM ks LEFT JOIN n_club ON ks.k = n_club.k
LEFT JOIN e_club ON ks.k = e_club.k
ORDER BY degree_threshold
"""


def q_poisson_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson GLM with a binary regressor, in closed form: the per-order
    line-item COUNT modeled as ln μ = α + β·[urgent] — the count-data
    member of the regression family (ols_price_model is Gaussian,
    logistic_newton is Bernoulli; β here is the log RATE RATIO, the
    quantity an ops team quotes as "urgent orders carry e^β× the
    lines"). With one binary covariate the MLE is exact: e^β =
    ȳ_urgent/ȳ_other, Wald se(β) = √(1/Σy₁ + 1/Σy₀) — no Newton loop,
    no iteration to unroll.

    Two exact integer group sums (one keyed aggregate over the
    order-level join), one snapped formula each for β, its CI, and the
    rate ratio. The LR statistic against the null (common rate) is the
    closed-form Poisson deviance difference on the same sums.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nlines = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    g = (
        o.join(nlines, "o_orderkey")
        .groupBy((F.col("o_orderpriority") == "1-URGENT").alias("is_a"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("sy"),
        )
    )
    a = g.filter("is_a").select(
        F.col("n").alias("n1"), F.col("sy").alias("s1")
    )
    b = g.filter(~F.col("is_a")).select(
        F.col("n").alias("n0"), F.col("sy").alias("s0")
    )
    j = a.crossJoin(F.broadcast(b))
    mu1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    mu0 = F.col("s0").cast("double") / F.col("n0").cast("double")
    beta = F.log(mu1 / mu0)
    se = F.sqrt(
        1.0 / F.col("s1").cast("double") + 1.0 / F.col("s0").cast("double")
    )
    # LR: 2·[Σy₁·ln μ₁ + Σy₀·ln μ₀ − (Σy₁+Σy₀)·ln μ̄]
    mubar = (F.col("s1") + F.col("s0")).cast("double") / (
        F.col("n1") + F.col("n0")
    ).cast("double")
    lr = 2.0 * (
        F.col("s1").cast("double") * F.log(mu1)
        + F.col("s0").cast("double") * F.log(mu0)
        - (F.col("s1") + F.col("s0")).cast("double") * F.log(mubar)
    )
    bs = snap_round(beta, 6)
    return j.select(
        F.col("n1").alias("n_urgent"),
        F.col("n0").alias("n_other"),
        snap_round(F.exp(beta), 6).alias("rate_ratio"),
        bs.alias("log_rate_ratio"),
        snap_round(se, 6).alias("se"),
        snap_round(F.exp(beta - 1.96 * se), 6).alias("rr_ci_lo"),
        snap_round(F.exp(beta + 1.96 * se), 6).alias("rr_ci_hi"),
        snap_round(lr, 6).alias("lr_stat"),
        (F.abs(bs / snap_round(se, 6)) > 1.96).alias("significant"),
    )


POISSON_RATE_RATIO_SQL = """
WITH nlines AS (
    SELECT l_orderkey AS o_orderkey, CAST(COUNT(*) AS BIGINT) AS y
    FROM lineitem GROUP BY l_orderkey
),
g AS (
    SELECT o_orderpriority = '1-URGENT' AS is_a,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS sy
    FROM orders JOIN nlines USING (o_orderkey)
    GROUP BY 1
),
j AS (
    SELECT a.n AS n1, a.sy AS s1, b.n AS n0, b.sy AS s0
    FROM (SELECT * FROM g WHERE is_a) a
    CROSS JOIN (SELECT * FROM g WHERE NOT is_a) b
)
SELECT n1 AS n_urgent, n0 AS n_other,
       CAST(ROUND(CAST(
           (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
           / (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS rate_ratio,
       CAST(ROUND(CAST(LN(
           (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
           / (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS log_rate_ratio,
       CAST(ROUND(CAST(SQRT(1.0 / CAST(s1 AS DOUBLE) + 1.0 / CAST(s0 AS DOUBLE))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS se,
       CAST(ROUND(CAST(EXP(
           LN((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
              / (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
           - 1.96 * SQRT(1.0 / CAST(s1 AS DOUBLE) + 1.0 / CAST(s0 AS DOUBLE)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS rr_ci_lo,
       CAST(ROUND(CAST(EXP(
           LN((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
              / (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
           + 1.96 * SQRT(1.0 / CAST(s1 AS DOUBLE) + 1.0 / CAST(s0 AS DOUBLE)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS rr_ci_hi,
       CAST(ROUND(CAST(2.0 * (
           CAST(s1 AS DOUBLE) * LN(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
           + CAST(s0 AS DOUBLE) * LN(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
           - CAST(s1 + s0 AS DOUBLE)
             * LN(CAST(s1 + s0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS lr_stat,
       ABS(CAST(ROUND(CAST(LN(
           (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
           / (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
           AS DECIMAL(28,8)), 6) AS DOUBLE)
           / CAST(ROUND(CAST(SQRT(1.0 / CAST(s1 AS DOUBLE)
                                  + 1.0 / CAST(s0 AS DOUBLE))
             AS DECIMAL(28,8)), 6) AS DOUBLE)) > 1.96 AS significant
FROM j
"""


def q_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit of per-user inter-event gaps via the Gumbel moment
    trick: if Y ~ Weibull(k, λ) then ln Y is Gumbel, so k = π/(σ_lnY·√6)
    and λ = exp(μ_lnY + γ/k) in CLOSED FORM (γ = Euler-Mascheroni) — the
    parametric member of the survival family (kaplan_meier/nelson_aalen
    are nonparametric; the Weibull shape k says whether user activity
    hazards rise (k>1) or decay (k<1) with idle time, the churn-model
    input). The true MLE needs iteration; the log-moment estimator is
    the standard one-pass surrogate at scale.

    Gaps are one lead() per user-keyed window (exact integer seconds);
    ln-gap moments are decimal power sums of 8-dp-snapped logs; the two
    closed-form parameters snap once each. Also reports the implied
    median λ·(ln 2)^{1/k} in hours for sanity.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias(
                "gap_us"
            ),
        )
        .filter(F.col("gap_us") > 0)
        .select(
            F.round(
                F.log(F.col("gap_us").cast("double") / 3.6e9).cast("decimal(18,8)"), 8
            ).alias("lny")  # gap in HOURS
        )
    )
    sums = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("lny").alias("s"),
        F.sum(F.col("lny") * F.col("lny")).alias("ss"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s").cast("double") / n
    sd = F.sqrt(F.col("ss").cast("double") / n - mu * mu)
    k = snap_round(3.141592653589793 / (sd * F.sqrt(F.lit(6.0))), 6)
    lam = snap_round(F.exp(mu + 0.5772156649015329 / k), 6)
    return sums.select(
        F.col("n").alias("n_gaps"),
        k.alias("shape_k"),
        lam.alias("scale_lambda_hours"),
        snap_round(
            lam * F.pow(F.lit(0.6931471805599453), 1.0 / k), 6
        ).alias("median_gap_hours"),
        (k < 1.0).alias("decreasing_hazard"),
    )


WEIBULL_FIT_SQL = """
WITH gaps AS (
    SELECT ROUND(CAST(LN(CAST(gap_us AS DOUBLE) / 3.6e9) AS DECIMAL(18,8)), 8)
        AS lny
    FROM (
        SELECT LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
               - epoch_us(ts) AS gap_us
        FROM events
    )
    WHERE gap_us > 0
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(lny) AS s, SUM(lny * lny) AS ss
    FROM gaps
),
fit AS (
    SELECT n,
           CAST(ROUND(CAST(
               3.141592653589793
               / (SQRT(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                  * SQRT(6.0))
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS shape_k,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu
    FROM sums
),
fit2 AS (
    SELECT n, shape_k,
           CAST(ROUND(CAST(EXP(mu + 0.5772156649015329 / shape_k)
                AS DECIMAL(28,8)), 6) AS DOUBLE) AS scale_lambda_hours
    FROM fit
)
SELECT n AS n_gaps, shape_k, scale_lambda_hours,
       CAST(ROUND(CAST(
           scale_lambda_hours * POW(0.6931471805599453, 1.0 / shape_k)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS median_gap_hours,
       shape_k < 1.0 AS decreasing_hazard
FROM fit2
"""
