"""Round-3 (session 4) statistics additions: the remaining inference staples.

The reference engine ships no statistics beyond COUNT/SUM/AVG
(`/root/reference/src/data_processor.py` aggregates only); this module
continues the extension families in quality.py / stats2.py with:

- **Cox proportional hazards** (1-covariate, Breslow ties, unrolled Newton)
  — the regression member of the survival family (kaplan_meier →
  nelson_aalen → rmst → logrank → weibull_fit built the curve/test side;
  Cox answers "HOW MUCH does a covariate shift the hazard").
- **Friedman test** — the repeated-measures k-sample rank test
  (kruskal_wallis without the independence assumption; blocks absorb the
  between-block level).
- **Mood's median test** — the coarse-but-robust two-sample location test
  (median-split χ², immune to the tail weirdness mann_whitney still feels).
- **Fleiss' kappa** — multi-rater chance-corrected agreement across the
  quality-ensemble's component gates (cohens_kappa generalized past 2
  raters; the gate-redundancy audit for quality_ensemble).
- **TOST equivalence** — two one-sided tests: the A/B family's missing
  direction ("are these segments the SAME within ±δ", which a
  non-significant z-test does NOT establish).

Determinism discipline (shared with quality.py/stats2.py): every statistic
assembles from EXACT integer/decimal aggregates so both engines feed the
identical closed-form double expression identical inputs; doubles snap
through a wide decimal (`snap_round`) at every cross-engine boundary.
Iterative fits (Cox's Newton) run a FIXED number of unrolled rounds with
the coefficient snapped at 8 dp per round — the pagerank/raking precedent —
so the oracle mirrors the iteration exactly.

Scale posture: every operator reduces to a calendar- or support-bounded
relation (event days, months×weekdays, the 50-value quantity support,
3-rater integer counts) in ONE map-side-combinable pass; the closed-form
algebra then runs on ≤ thousands of rows regardless of SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from candyspark.functions.numeric import money, snap_round
from candyspark.operators.text import char_hash32
from candyspark.plans.candy import line_fit, line_fit_sql
from candyspark.plans.extensions import (
    FIRST_CONVERSIONS_SQL,
    TIME_TO_EVENT_SQL,
    at_risk,
    at_risk_sql,
    censored_conversions,
    signup_times,
    time_to_event,
)
from candyspark.plans.stats2 import (
    SPLIT_CUMS_SQL,
    SPLIT_TOTALS_SQL,
    returned_vs_kept,
    split_cums,
    split_sql,
    split_totals,
)
from candyspark.sources.readers import load_table


# ---------------------------------------------------------------------------
# Cox proportional hazards (1 covariate, Breslow ties, unrolled Newton)
# ---------------------------------------------------------------------------

_COX_ROUNDS = 4


def _cox_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The survival relation Cox runs on: per event-day exact-integer
    (d, s1, r0, r1) for time-to-first-purchase after signup, censored at
    the table horizon (the kaplan_meier construction), covariate
    x = earlier-cohort (signup in the first half of the signup span —
    deterministic from min/max, non-degenerate at every SF)."""
    e = load_table(spark, sf_dir, "events")
    signups = signup_times(e)
    bounds = signups.agg(
        F.min(F.unix_micros("signup_ts")).alias("lo"),
        F.max(F.unix_micros("signup_ts")).alias("hi"),
    )
    per_user = (
        censored_conversions(e, signups)
        .crossJoin(F.broadcast(bounds))
        .select(
            time_to_event().alias("t"),
            F.when(F.col("conv_ts").isNotNull(), 1).otherwise(0).alias("event"),
            # earlier cohort: 2*signup <= lo+hi avoids the /2 rounding
            F.when(
                F.unix_micros("signup_ts") * 2 <= F.col("lo") + F.col("hi"), 1
            )
            .otherwise(0)
            .alias("x"),
        )
    )
    daily = per_user.groupBy("t").agg(
        F.sum(F.col("event") * F.col("x")).cast("long").alias("d1"),
        F.sum(F.col("event") * (1 - F.col("x"))).cast("long").alias("d0"),
        F.sum((1 - F.col("event")) * F.col("x")).cast("long").alias("c1"),
        F.sum((1 - F.col("event")) * (1 - F.col("x"))).cast("long").alias("c0"),
    )
    return (
        daily.select(
            "t",
            (F.col("d1") + F.col("d0")).alias("d"),
            F.col("d1").alias("s1"),
            at_risk(F.col("d1") + F.col("c1")).cast("long").alias("r1"),
            at_risk(F.col("d0") + F.col("c0")).cast("long").alias("r0"),
        )
        .filter(F.col("d") > 0)
    )


def q_cox_ph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards regression (1 binary covariate, Breslow
    ties): does the earlier signup cohort convert at a different hazard?
    Completes the survival family — kaplan_meier/nelson_aalen DESCRIBE the
    hazard, logrank TESTS it, cox_ph MEASURES the covariate's multiplier.

    With a binary covariate the partial likelihood collapses onto the
    per-event-day exact integers (d, s1, r0, r1): the risk-set sum
    Σ e^{βx_j} is just r0 + r1·e^β, so score and information are

        U(β) = Σ_t [s1 − d·r1·e^β/(r0+r1·e^β)]
        I(β) = Σ_t [d·r0·r1·e^β/(r0+r1·e^β)²]

    — no per-subject work survives the first aggregate. Newton runs
    _COX_ROUNDS unrolled rounds from β=0 with each round's per-day terms
    snapped at 8 dp and summed in exact DECIMAL (the raking/pagerank
    round-resynchronization discipline), so the oracle mirrors the
    iteration bit-for-bit. The score test at β=0 (logrank-equivalent)
    ships as the significance gate — χ²(1) critical 3.841, no CDF needed.

    At 100 TB: two user_id reductions + one keyed join build the per-day
    relation (calendar-bounded ≤ days rows, checkpointed once); each
    Newton round is one aggregate over it. Nothing downstream scales
    with row count.
    """
    daily = _cox_daily(spark, sf_dir).localCheckpoint()

    def score_info(beta_col):
        eb = F.exp(beta_col)
        denom = F.col("r0").cast("double") + F.col("r1").cast("double") * eb
        u_t = F.col("s1").cast("double") - F.col("d").cast("double") * (
            F.col("r1").cast("double") * eb / denom
        )
        i_t = (
            F.col("d").cast("double")
            * F.col("r0").cast("double")
            * F.col("r1").cast("double")
            * eb
            / (denom * denom)
        )
        return (
            F.sum(F.round(u_t.cast("decimal(28,8)"), 8).cast("decimal(28,8)")),
            F.sum(F.round(i_t.cast("decimal(28,8)"), 8).cast("decimal(28,8)")),
        )

    # score test at beta = 0 (the logrank-equivalent significance gate)
    u0, i0 = score_info(F.lit(0.0))
    base = daily.agg(
        F.sum("d").cast("long").alias("n_events"),
        u0.alias("u0"),
        i0.alias("i0"),
    )

    beta = base.select(
        "n_events",
        snap_round(
            F.when(
                F.col("i0").cast("double") > 0,
                F.col("u0").cast("double") * F.col("u0").cast("double")
                / F.col("i0").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("score_chi2"),
        F.lit(0.0).alias("beta"),
    ).localCheckpoint()
    for _ in range(_COX_ROUNDS):
        u, i = score_info(F.col("beta"))
        step = daily.crossJoin(F.broadcast(beta)).groupBy(
            "n_events", "score_chi2", "beta"
        ).agg(u.alias("u"), i.alias("i"))
        beta = step.select(
            "n_events",
            "score_chi2",
            F.when(
                F.col("i").cast("double") > 0,
                snap_round(
                    F.col("beta")
                    + F.col("u").cast("double") / F.col("i").cast("double"),
                    8,
                ),
            )
            .otherwise(F.col("beta"))
            .alias("beta"),
        ).localCheckpoint()
    return beta.select(
        "n_events",
        snap_round(F.col("beta"), 6).alias("beta"),
        snap_round(F.exp("beta"), 6).alias("hazard_ratio"),
        "score_chi2",
        (F.col("score_chi2") > 3.841).alias("significant"),
    )


def _cox_sql_round(k: int) -> str:
    """One unrolled Newton round: beta_{k} from beta_{k-1} over ev."""
    return f"""
b{k} AS (
    SELECT n_events, score_chi2,
           CASE WHEN CAST(i AS DOUBLE) > 0
                THEN CAST(ROUND(CAST(beta + CAST(u AS DOUBLE) / CAST(i AS DOUBLE)
                     AS DECIMAL(28,8)), 8) AS DOUBLE)
                ELSE beta END AS beta
    FROM (
        SELECT n_events, score_chi2, beta,
               SUM(CAST(ROUND(CAST(s1 - d * ((r1 * EXP(beta))
                   / (r0 + r1 * EXP(beta))) AS DECIMAL(28,8)), 8)
                   AS DECIMAL(28,8))) AS u,
               SUM(CAST(ROUND(CAST(d * r0 * r1 * EXP(beta)
                   / ((r0 + r1 * EXP(beta)) * (r0 + r1 * EXP(beta)))
                   AS DECIMAL(28,8)), 8) AS DECIMAL(28,8))) AS i
        FROM ev CROSS JOIN b{k - 1}
        GROUP BY 1, 2, 3
    )
)"""


COX_PH_SQL = (
    f"""
WITH {FIRST_CONVERSIONS_SQL},
bounds AS (
    SELECT MIN(epoch_us(signup_ts)) AS lo, MAX(epoch_us(signup_ts)) AS hi
    FROM signups
),
per_user AS (
    SELECT CAST({TIME_TO_EVENT_SQL} AS BIGINT) AS t,
           CASE WHEN conv_ts IS NOT NULL THEN 1 ELSE 0 END AS event,
           CASE WHEN epoch_us(signup_ts) * 2 <= lo + hi THEN 1 ELSE 0 END AS x
    FROM conversions CROSS JOIN horizon CROSS JOIN bounds
),
daily AS (
    SELECT t,
           CAST(SUM(event * x) AS BIGINT) AS d1,
           CAST(SUM(event * (1 - x)) AS BIGINT) AS d0,
           CAST(SUM((1 - event) * x) AS BIGINT) AS c1,
           CAST(SUM((1 - event) * (1 - x)) AS BIGINT) AS c0
    FROM per_user GROUP BY 1
),
risk AS (
    SELECT t, d1 + d0 AS d, d1 AS s1,
           CAST({at_risk_sql("d1 + c1")} AS BIGINT) AS r1,
           CAST({at_risk_sql("d0 + c0")} AS BIGINT) AS r0
    FROM daily
),
ev AS (SELECT * FROM risk WHERE d > 0),
b0 AS (
    SELECT n_events,
           CAST(ROUND(CAST(CASE WHEN CAST(i0 AS DOUBLE) > 0
               THEN CAST(u0 AS DOUBLE) * CAST(u0 AS DOUBLE) / CAST(i0 AS DOUBLE)
               ELSE 0.0 END AS DECIMAL(28,8)), 6) AS DOUBLE) AS score_chi2,
           CAST(0.0 AS DOUBLE) AS beta
    FROM (
        SELECT CAST(SUM(d) AS BIGINT) AS n_events,
               SUM(CAST(ROUND(CAST(s1 - d * (CAST(r1 AS DOUBLE)
                   / (r0 + CAST(r1 AS DOUBLE))) AS DECIMAL(28,8)), 8)
                   AS DECIMAL(28,8))) AS u0,
               SUM(CAST(ROUND(CAST(d * r0 * CAST(r1 AS DOUBLE)
                   / ((r0 + CAST(r1 AS DOUBLE)) * (r0 + CAST(r1 AS DOUBLE)))
                   AS DECIMAL(28,8)), 8) AS DECIMAL(28,8))) AS i0
        FROM ev
    )
),"""
    + ",".join(_cox_sql_round(k) for k in range(1, _COX_ROUNDS + 1))
    + f"""
SELECT n_events,
       CAST(ROUND(CAST(beta AS DECIMAL(28,8)), 6) AS DOUBLE) AS beta,
       CAST(ROUND(CAST(EXP(beta) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS hazard_ratio,
       score_chi2,
       score_chi2 > 3.841 AS significant
FROM b{_COX_ROUNDS}
"""
)


# ---------------------------------------------------------------------------
# Friedman repeated-measures rank test
# ---------------------------------------------------------------------------


def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: is daily revenue consistently RANKED across ISO
    weekdays within months? The repeated-measures member of the k-sample
    family — kruskal_wallis pools all days and a strong month trend can
    drown the weekday signal; Friedman ranks WITHIN each month block so
    the between-month level cancels exactly.

    Blocks = months whose order days cover all 7 weekdays (complete
    blocks only — the test's balanced-design requirement); treatments =
    ISO weekday; response = exact-decimal revenue of that (month,
    weekday). Ranks within block come from one window pass as integer
    DOUBLED midranks (2·rank + ties − 1), so every rank sum is an exact
    long and Q = 3·Σ S_j²/(56·n) − 24·n is integer algebra until the two
    final snapped divisions (k = 7: Q = 12/(n·k·(k+1))·Σ R_j² − 3n(k+1)
    with R_j = S_j/2). Revenue ties across weekdays of one month are
    measure-zero at cent granularity; the uncorrected statistic is the
    one both engines compute identically either way. p-value is the
    closed-form χ²(6) survival exp(−Q/2)·(1 + Q/2 + Q²/8) — even df,
    no incomplete gamma needed.

    At 100 TB: one map-side-combined (month, weekday) decimal aggregate
    (≤ 7·months rows at any SF), one bounded window, constant algebra.
    """
    o = load_table(spark, sf_dir, "orders")
    cell = (
        o.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("mo"),
            (F.weekday("o_orderdate") + F.lit(1)).alias("dow"),
            money("o_totalprice").alias("rev"),
        )
        .groupBy("mo", "dow")
        .agg(F.sum("rev").alias("rev"))
    )
    complete = (
        cell.groupBy("mo")
        .agg(F.countDistinct("dow").alias("nd"))
        .filter(F.col("nd") == 7)
        .select("mo")
    )
    blocks = cell.join(complete, "mo")
    wr = Window.partitionBy("mo").orderBy("rev")
    weq = Window.partitionBy("mo", "rev")
    ranked = blocks.select(
        "dow",
        (
            F.lit(2) * F.rank().over(wr) + F.count("*").over(weq) - F.lit(1)
        )
        .cast("long")
        .alias("rank2"),
    )
    per_dow = ranked.groupBy("dow").agg(F.sum("rank2").cast("long").alias("s"))
    agg = per_dow.agg(
        F.sum(
            (F.col("s").cast("decimal(38,0)") * F.col("s").cast("decimal(38,0)"))
        ).alias("ss"),
        (F.sum("s") / F.lit(56)).cast("long").alias("n_blocks"),
    )
    q = snap_round(
        F.lit(3.0) * F.col("ss").cast("double")
        / (F.lit(56.0) * F.col("n_blocks").cast("double"))
        - F.lit(24.0) * F.col("n_blocks").cast("double"),
        6,
    )
    h = q / 2.0
    p = snap_round(
        F.exp(-h) * (F.lit(1.0) + h + h * h / F.lit(2.0)), 6
    )
    return agg.select(
        "n_blocks",
        q.alias("q_stat"),
        p.alias("p_value"),
        (p < 0.05).alias("significant"),
    )


FRIEDMAN_TEST_SQL = """
WITH cell AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS mo,
           isodow(o_orderdate) AS dow,
           SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
    FROM orders GROUP BY 1, 2
),
complete AS (
    SELECT mo FROM cell GROUP BY mo HAVING COUNT(DISTINCT dow) = 7
),
ranked AS (
    SELECT dow,
           CAST(2 * RANK() OVER (PARTITION BY mo ORDER BY rev)
                + COUNT(*) OVER (PARTITION BY mo, rev) - 1 AS BIGINT) AS rank2
    FROM cell JOIN complete USING (mo)
),
per_dow AS (
    SELECT dow, CAST(SUM(rank2) AS BIGINT) AS s FROM ranked GROUP BY 1
),
agg AS (
    SELECT SUM(CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))) AS ss,
           CAST(SUM(s) / 56 AS BIGINT) AS n_blocks
    FROM per_dow
),
stat AS (
    SELECT n_blocks,
           CAST(ROUND(CAST(3.0 * CAST(ss AS DOUBLE) / (56.0 * n_blocks)
               - 24.0 * n_blocks AS DECIMAL(28,8)), 6) AS DOUBLE) AS q_stat
    FROM agg
)
SELECT n_blocks, q_stat,
       CAST(ROUND(CAST(EXP(-q_stat / 2.0) * (1.0 + q_stat / 2.0
           + (q_stat / 2.0) * (q_stat / 2.0) / 2.0) AS DECIMAL(28,8)), 6)
           AS DOUBLE) AS p_value,
       CAST(ROUND(CAST(EXP(-q_stat / 2.0) * (1.0 + q_stat / 2.0
           + (q_stat / 2.0) * (q_stat / 2.0) / 2.0) AS DECIMAL(28,8)), 6)
           AS DOUBLE) < 0.05 AS significant
FROM stat
"""


# ---------------------------------------------------------------------------
# Mood's median test
# ---------------------------------------------------------------------------


def q_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: do returned ('R') line items ship different
    quantities than kept ones, judged ONLY by which side of the pooled
    median each lands on? The coarse-but-robust member of the two-sample
    family — mann_whitney reads the whole rank structure (tail-sensitive),
    ks_test the whole CDF; Mood's collapses to one 2×2 and survives any
    monotone transform or tail contamination.

    The pooled median comes from the same bounded-support trick as
    ks_test (l_quantity: 50 integer values): the per-value aggregate's
    cumulative count gives median = min v with 2·cum ≥ n — both engines
    agree exactly, no distributed sort. The 2×2 χ² =
    n(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) is integer algebra until one
    snapped division; significance at the χ²(1) critical 3.841 (the
    mcnemar precedent — df=1 has no even-df closed form).

    At 100 TB: one map-side-combined ≤50-row aggregate, then constants.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_v = returned_vs_kept(li, F.col("l_quantity").cast("long"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    whole = Window.partitionBy()
    cums = per_v.select(
        "v",
        "na_v",
        "nb_v",
        (F.sum(F.col("na_v") + F.col("nb_v")).over(w)).cast("long").alias("cum"),
        (F.sum(F.col("na_v") + F.col("nb_v")).over(whole)).cast("long").alias("n"),
    )
    med = cums.filter(F.col("cum") * 2 >= F.col("n")).agg(
        F.min("v").alias("median_v")
    )
    cells = per_v.crossJoin(F.broadcast(med)).agg(
        F.min("median_v").alias("median_quantity"),
        F.sum(F.when(F.col("v") > F.col("median_v"), F.col("na_v")).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("v") <= F.col("median_v"), F.col("na_v")).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(F.col("v") > F.col("median_v"), F.col("nb_v")).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(F.col("v") <= F.col("median_v"), F.col("nb_v")).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    det = (
        F.col("a").cast("decimal(38,0)") * F.col("d").cast("decimal(38,0)")
        - F.col("b").cast("decimal(38,0)") * F.col("c").cast("decimal(38,0)")
    )
    denom = (
        (F.col("a") + F.col("b")).cast("decimal(38,0)")
        * (F.col("c") + F.col("d")).cast("decimal(38,0)")
        * (F.col("a") + F.col("c")).cast("decimal(38,0)")
        * (F.col("b") + F.col("d")).cast("decimal(38,0)")
    )
    chi2 = snap_round(
        n.cast("double") * (det * det).cast("double") / denom.cast("double"), 6
    )
    return cells.select(
        "median_quantity",
        F.col("a").alias("above_returned"),
        F.col("b").alias("below_returned"),
        F.col("c").alias("above_kept"),
        F.col("d").alias("below_kept"),
        chi2.alias("chi2"),
        (chi2 > 3.841).alias("significant"),
    )


MOOD_MEDIAN_TEST_SQL = f"""
WITH {split_sql("CAST(l_quantity AS BIGINT)")},
cums AS (
    SELECT v,
           CAST(SUM(na_v + nb_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum,
           CAST(SUM(na_v + nb_v) OVER () AS BIGINT) AS n
    FROM per_v
),
med AS (SELECT MIN(v) AS median_v FROM cums WHERE cum * 2 >= n),
cells AS (
    SELECT MIN(median_v) AS median_quantity,
           CAST(SUM(CASE WHEN v > median_v THEN na_v ELSE 0 END) AS BIGINT) AS a,
           CAST(SUM(CASE WHEN v <= median_v THEN na_v ELSE 0 END) AS BIGINT) AS b,
           CAST(SUM(CASE WHEN v > median_v THEN nb_v ELSE 0 END) AS BIGINT) AS c,
           CAST(SUM(CASE WHEN v <= median_v THEN nb_v ELSE 0 END) AS BIGINT) AS d
    FROM per_v CROSS JOIN med
)
SELECT median_quantity,
       a AS above_returned, b AS below_returned,
       c AS above_kept, d AS below_kept,
       CAST(ROUND(CAST(
           (a + b + c + d)
           * CAST((CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)
                  * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)
                  AS DOUBLE)
           / CAST(CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d)
                  AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS chi2,
       CAST(ROUND(CAST(
           (a + b + c + d)
           * CAST((CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)
                  * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)
                  AS DOUBLE)
           / CAST(CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d)
                  AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) > 3.841 AS significant
FROM cells
"""


# ---------------------------------------------------------------------------
# Fleiss' kappa — multi-rater agreement of three heuristic quality gates
# ---------------------------------------------------------------------------


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across three standalone heuristic quality gates
    (length ≥ 200 chars, word count ≥ 30, alpha ratio ≥ 0.6) treated as
    three raters making a binary keep/drop call per document — a
    gate-redundancy audit: κ near 1 says the gates are measuring the
    same thing (two are dead weight); κ near 0 says they disagree at
    chance (a majority vote over them would be meaningless). These are
    deliberately simpler gates than q_quality_ensemble's (which votes
    gopher rules × quality_score × lang-id agreement); cohens_kappa
    covers 2 raters, Fleiss is the r ≥ 3 generalization.

    Every input is an exact integer: the alpha-ratio gate cross-multiplies
    (10·alpha_chars ≥ 6·n_chars) so no division enters a predicate, and
    with r = 3 raters the whole statistic reduces to n, T = Σnᵢ₁ and
    S = Σnᵢ₁²: P̄ = (S + 3n − 3T)/(3n), P̄ₑ = (T² + (3n−T)²)/(9n²),
    κ = (P̄−P̄ₑ)/(1−P̄ₑ) — three snapped divisions on exact integers.

    At 100 TB: the gates are scan-stage expressions; ONE aggregate to
    three integers, then constants. Nothing shuffles but the final rollup.
    """
    d = load_table(spark, sf_dir, "documents")
    alpha_chars = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    words = F.regexp_count("text", F.lit(" ")) + F.lit(1)
    n1 = (
        (F.col("n_chars") >= 200).cast("int")
        + (words >= 30).cast("int")
        + (alpha_chars * 10 >= F.col("n_chars") * 6).cast("int")
    )
    agg = d.select(n1.alias("n1")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n1").cast("long").alias("t"),
        F.sum(F.col("n1") * F.col("n1")).cast("long").alias("s"),
    )
    n = F.col("n_docs").cast("double")
    t = F.col("t").cast("double")
    s = F.col("s").cast("double")
    p_bar = snap_round((s + 3.0 * n - 3.0 * t) / (3.0 * n), 8)
    p_e = snap_round(
        (t * t + (3.0 * n - t) * (3.0 * n - t)) / (9.0 * n * n), 8
    )
    kappa = snap_round((p_bar - p_e) / (F.lit(1.0) - p_e), 6)
    return agg.select(
        "n_docs",
        snap_round(t / (3.0 * n), 6).alias("keep_share"),
        p_bar.alias("p_bar"),
        p_e.alias("p_e"),
        kappa.alias("kappa"),
        F.when(kappa >= 0.61, "substantial")
        .when(kappa >= 0.41, "moderate")
        .when(kappa >= 0.21, "fair")
        .otherwise("slight")
        .alias("agreement"),
    )


FLEISS_KAPPA_SQL = """
WITH rated AS (
    SELECT (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
         + (CASE WHEN LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 >= 30
                 THEN 1 ELSE 0 END)
         + (CASE WHEN LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) * 10
                      >= n_chars * 6
                 THEN 1 ELSE 0 END) AS n1
    FROM documents
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n1) AS BIGINT) AS t,
           CAST(SUM(n1 * n1) AS BIGINT) AS s
    FROM rated
),
terms AS (
    SELECT n_docs, t,
           CAST(ROUND(CAST((s + 3.0 * n_docs - 3.0 * t) / (3.0 * n_docs)
               AS DECIMAL(28,8)), 8) AS DOUBLE) AS p_bar,
           CAST(ROUND(CAST((CAST(t AS DOUBLE) * t
               + (3.0 * n_docs - t) * (3.0 * n_docs - t))
               / (9.0 * CAST(n_docs AS DOUBLE) * n_docs)
               AS DECIMAL(28,8)), 8) AS DOUBLE) AS p_e
    FROM agg
)
SELECT n_docs,
       CAST(ROUND(CAST(CAST(t AS DOUBLE) / (3.0 * n_docs)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS keep_share,
       p_bar, p_e,
       CAST(ROUND(CAST((p_bar - p_e) / (1.0 - p_e) AS DECIMAL(28,8)), 6)
           AS DOUBLE) AS kappa,
       CASE WHEN CAST(ROUND(CAST((p_bar - p_e) / (1.0 - p_e)
                 AS DECIMAL(28,8)), 6) AS DOUBLE) >= 0.61 THEN 'substantial'
            WHEN CAST(ROUND(CAST((p_bar - p_e) / (1.0 - p_e)
                 AS DECIMAL(28,8)), 6) AS DOUBLE) >= 0.41 THEN 'moderate'
            WHEN CAST(ROUND(CAST((p_bar - p_e) / (1.0 - p_e)
                 AS DECIMAL(28,8)), 6) AS DOUBLE) >= 0.21 THEN 'fair'
            ELSE 'slight' END AS agreement
FROM terms
"""


# ---------------------------------------------------------------------------
# TOST equivalence test
# ---------------------------------------------------------------------------


def q_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST (two one-sided tests) equivalence: are BUILDING and
    AUTOMOBILE customers' mean order values the SAME within ±5% of the
    pooled mean? The A/B family's missing direction — ab_ztest's
    non-significance never establishes sameness (absence of evidence);
    TOST reverses the burden: equivalence is claimed only when BOTH
    one-sided tests reject at the margin, i.e. min(z_lower, z_upper) >
    1.645 (Schuirmann 1987).

    Means and Welch standard errors assemble from one pass of exact
    DECIMAL power sums (Σx as DECIMAL money, Σx² widened) per segment —
    the ab_ztest discipline — pivoted into one row so the margin δ
    (5% of the pooled mean) and both z's are single snapped expressions.

    At 100 TB: one broadcast-joined scan, one 2-group aggregate, then
    constants. The segment dimension never shuffles the fact table twice.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = o.join(
        c.select("c_custkey", "c_mktsegment"),
        o["o_custkey"] == c["c_custkey"],
    ).filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
    wide = seg.select(
        (F.col("c_mktsegment") == "BUILDING").alias("is_a"),
        money("o_totalprice").alias("x"),
    ).agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("is_a"), F.col("x")).otherwise(F.lit(0)))
        .cast("decimal(38,2)")
        .alias("sa"),
        F.sum(
            F.when(
                F.col("is_a"),
                F.col("x").cast("decimal(18,2)") * F.col("x").cast("decimal(18,2)"),
            ).otherwise(F.lit(0))
        )
        .cast("decimal(38,4)")
        .alias("qa"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(~F.col("is_a"), F.col("x")).otherwise(F.lit(0)))
        .cast("decimal(38,2)")
        .alias("sb"),
        F.sum(
            F.when(
                ~F.col("is_a"),
                F.col("x").cast("decimal(18,2)") * F.col("x").cast("decimal(18,2)"),
            ).otherwise(F.lit(0))
        )
        .cast("decimal(38,4)")
        .alias("qb"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    qa, qb = F.col("qa").cast("double"), F.col("qb").cast("double")
    mean_a, mean_b = sa / na, sb / nb
    var_a = (qa - sa * sa / na) / (na - 1.0)
    var_b = (qb - sb * sb / nb) / (nb - 1.0)
    se = F.sqrt(var_a / na + var_b / nb)
    delta = snap_round((sa + sb) / (na + nb) * 0.05, 6)
    diff = snap_round(mean_a - mean_b, 6)
    z_lower = snap_round((diff + delta) / se, 6)
    z_upper = snap_round((delta - diff) / se, 6)
    return wide.select(
        "na",
        "nb",
        snap_round(mean_a, 2).alias("mean_building"),
        snap_round(mean_b, 2).alias("mean_automobile"),
        diff.alias("diff"),
        delta.alias("delta"),
        z_lower.alias("z_lower"),
        z_upper.alias("z_upper"),
        (F.least(z_lower, z_upper) > 1.645).alias("equivalent"),
    )


TOST_EQUIVALENCE_SQL = """
WITH seg AS (
    SELECT c.c_mktsegment = 'BUILDING' AS is_a,
           CAST(o.o_totalprice AS DECIMAL(12,2)) AS x
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
),
wide AS (
    SELECT CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(SUM(CASE WHEN is_a THEN x ELSE 0 END) AS DECIMAL(38,2)) AS sa,
           CAST(SUM(CASE WHEN is_a THEN CAST(x AS DECIMAL(18,2))
               * CAST(x AS DECIMAL(18,2)) ELSE 0 END) AS DECIMAL(38,4)) AS qa,
           CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb,
           CAST(SUM(CASE WHEN is_a THEN 0 ELSE x END) AS DECIMAL(38,2)) AS sb,
           CAST(SUM(CASE WHEN is_a THEN 0 ELSE CAST(x AS DECIMAL(18,2))
               * CAST(x AS DECIMAL(18,2)) END) AS DECIMAL(38,4)) AS qb
    FROM seg
),
terms AS (
    SELECT na, nb,
           CAST(sa AS DOUBLE) / na AS mean_a,
           CAST(sb AS DOUBLE) / nb AS mean_b,
           SQRT(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                   / na) / (na - 1.0)) / na
               + ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                   / nb) / (nb - 1.0)) / nb) AS se,
           CAST(ROUND(CAST((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
               / (na + nb) * 0.05 AS DECIMAL(28,8)), 6) AS DOUBLE) AS delta,
           CAST(ROUND(CAST(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS diff
    FROM wide
)
SELECT na, nb,
       CAST(ROUND(CAST(mean_a AS DECIMAL(28,8)), 2) AS DOUBLE)
           AS mean_building,
       CAST(ROUND(CAST(mean_b AS DECIMAL(28,8)), 2) AS DOUBLE)
           AS mean_automobile,
       diff, delta,
       CAST(ROUND(CAST((diff + delta) / se AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS z_lower,
       CAST(ROUND(CAST((delta - diff) / se AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS z_upper,
       LEAST(CAST(ROUND(CAST((diff + delta) / se AS DECIMAL(28,8)), 6)
                 AS DOUBLE),
             CAST(ROUND(CAST((delta - diff) / se AS DECIMAL(28,8)), 6)
                 AS DOUBLE)) > 1.645 AS equivalent
FROM terms
"""


# ---------------------------------------------------------------------------
# Dunn's post-hoc test (after Kruskal-Wallis)
# ---------------------------------------------------------------------------


def q_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons on the ranks behind
    kruskal_wallis: WHICH return-flag groups differ in discount once the
    omnibus H says "some do"? Running three mann_whitney tests instead
    would re-rank per pair and inflate alpha; Dunn reuses the ONE global
    ranking and applies the Bonferroni-adjusted critical value (3 pairs,
    two-sided 5% -> |z| > 2.394).

    Ranks ride the bounded-support midrank trick (l_discount: 11 cent
    values): doubled midranks mid2(v) = 2*cum_before + cnt + 1 keep every
    rank sum an exact integer, the tie term sum(t^3 - t) is exact
    DECIMAL(38,0), and each pair's z is one snapped expression on exact
    inputs: z_ij = (Rbar_i - Rbar_j) / sqrt((N(N+1)/12 - T/(12(N-1))) *
    (1/n_i + 1/n_j)).

    At 100 TB: one map-side-combined <=11x3-cell aggregate, a 3-row
    self-join, constants. The global sort a textbook ranking pays never
    happens.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_vg = (
        li.select(
            F.round(F.col("l_discount") * 100, 0).cast("long").alias("v"),
            F.col("l_returnflag").alias("g"),
        )
        .groupBy("v", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_v = per_vg.groupBy("v").agg(F.sum("c").cast("long").alias("cnt"))
    w_before = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    whole = Window.partitionBy()
    mid = per_v.select(
        "v",
        "cnt",
        (
            F.lit(2) * F.coalesce(F.sum("cnt").over(w_before), F.lit(0))
            + F.col("cnt")
            + F.lit(1)
        )
        .cast("long")
        .alias("mid2"),
        F.sum("cnt").over(whole).cast("long").alias("n_total"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)")
            * F.col("cnt").cast("decimal(38,0)")
            * F.col("cnt").cast("decimal(38,0)")
            - F.col("cnt").cast("decimal(38,0)")
        )
        .over(whole)
        .alias("tie_sum"),
    )
    per_g = (
        per_vg.join(mid.select("v", "mid2", "n_total", "tie_sum"), "v")
        .groupBy("g", "n_total", "tie_sum")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(
                F.col("c").cast("decimal(38,0)") * F.col("mid2").cast("decimal(38,0)")
            ).alias("sum2_g"),
        )
    )
    a = per_g.select(
        F.col("g").alias("g1"),
        F.col("n_g").alias("n1"),
        F.col("sum2_g").alias("s1"),
        "n_total",
        "tie_sum",
    )
    b = per_g.select(
        F.col("g").alias("g2"),
        F.col("n_g").alias("n2"),
        F.col("sum2_g").alias("s2"),
    )
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("g1") < F.col("g2"))
    nn = F.col("n_total").cast("double")
    var_base = nn * (nn + 1.0) / 12.0 - F.col("tie_sum").cast("double") / (
        12.0 * (nn - 1.0)
    )
    r1 = F.col("s1").cast("double") / (2.0 * F.col("n1").cast("double"))
    r2 = F.col("s2").cast("double") / (2.0 * F.col("n2").cast("double"))
    z = snap_round(
        (r1 - r2)
        / F.sqrt(
            var_base
            * (
                1.0 / F.col("n1").cast("double")
                + 1.0 / F.col("n2").cast("double")
            )
        ),
        6,
    )
    return pairs.select(
        "g1",
        "g2",
        F.col("n1").alias("n_g1"),
        F.col("n2").alias("n_g2"),
        snap_round(r1, 4).alias("mean_rank_g1"),
        snap_round(r2, 4).alias("mean_rank_g2"),
        z.alias("z"),
        (F.abs(z) > 2.394).alias("significant_bonferroni"),
    ).orderBy("g1", "g2")


DUNN_POSTHOC_SQL = """
WITH per_vg AS (
    SELECT CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS v,
           l_returnflag AS g,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM lineitem GROUP BY 1, 2
),
per_v AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cnt FROM per_vg GROUP BY 1),
mid AS (
    SELECT v,
           CAST(2 * COALESCE(SUM(cnt) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + cnt + 1 AS BIGINT) AS mid2,
           CAST(SUM(cnt) OVER () AS BIGINT) AS n_total,
           SUM(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt
               - CAST(cnt AS DECIMAL(38,0))) OVER () AS tie_sum
    FROM per_v
),
per_g AS (
    SELECT g, n_total, tie_sum,
           CAST(SUM(c) AS BIGINT) AS n_g,
           SUM(CAST(c AS DECIMAL(38,0)) * mid2) AS sum2_g
    FROM per_vg JOIN mid USING (v)
    GROUP BY 1, 2, 3
),
pairs AS (
    SELECT a.g AS g1, b.g AS g2, a.n_g AS n1, b.n_g AS n2,
           a.sum2_g AS s1, b.sum2_g AS s2, a.n_total, a.tie_sum
    FROM per_g a CROSS JOIN per_g b
    WHERE a.g < b.g
)
SELECT g1, g2, n1 AS n_g1, n2 AS n_g2,
       CAST(ROUND(CAST(CAST(s1 AS DOUBLE) / (2.0 * n1) AS DECIMAL(28,8)), 4)
           AS DOUBLE) AS mean_rank_g1,
       CAST(ROUND(CAST(CAST(s2 AS DOUBLE) / (2.0 * n2) AS DECIMAL(28,8)), 4)
           AS DOUBLE) AS mean_rank_g2,
       CAST(ROUND(CAST(
           (CAST(s1 AS DOUBLE) / (2.0 * n1) - CAST(s2 AS DOUBLE) / (2.0 * n2))
           / SQRT((CAST(n_total AS DOUBLE) * (n_total + 1.0) / 12.0
                   - CAST(tie_sum AS DOUBLE) / (12.0 * (n_total - 1.0)))
                  * (1.0 / n1 + 1.0 / n2))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS z,
       ABS(CAST(ROUND(CAST(
           (CAST(s1 AS DOUBLE) / (2.0 * n1) - CAST(s2 AS DOUBLE) / (2.0 * n2))
           / SQRT((CAST(n_total AS DOUBLE) * (n_total + 1.0) / 12.0
                   - CAST(tie_sum AS DOUBLE) / (12.0 * (n_total - 1.0)))
                  * (1.0 / n1 + 1.0 / n2))
           AS DECIMAL(28,8)), 6) AS DOUBLE)) > 2.394 AS significant_bonferroni
FROM pairs
ORDER BY g1, g2
"""


# ---------------------------------------------------------------------------
# Distance correlation (Szekely-Rizzo dCor)
# ---------------------------------------------------------------------------


def q_distance_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance correlation between daily order count and daily revenue
    (Szekely-Rizzo 2007): dCor = 0 iff INDEPENDENT - the dependence
    measure that sees what Pearson/Spearman miss (nonmonotone, V-shaped,
    heteroscedastic coupling). energy_distance is the two-sample member
    of this family; dCor is its dependence member.

    The double-centered plan never materializes the centered matrices:
    n^4*dCov^2 = n^2*T1 - 2n*T2 + Sa*Sb with T1 = sum a_ij*b_ij, T2 =
    sum_i rowsum_a(i)*rowsum_b(i) - one pairwise pass plus one per-row
    rollup, distances exact (integer counts, CENTS-integer revenue).
    The naive three-ratio form t1/n^2 - 2t2/n^3 + s^2/n^4 loses ~4
    digits to cancellation at ~1e14-per-term magnitudes and the engines'
    rounding disagrees past any snap; instead the numerators are
    assembled EXACTLY - one bounded 1-row collect of the integer
    aggregates (the fisher_exact precedent), arbitrary-precision integer
    algebra, one double division per statistic, snapped. The oracle runs
    the identical algebra in HUGEINT. Zero variance on either axis ->
    honest NULL dCor.

    Scale: the pairwise relation is CALENDAR x CALENDAR bounded (~1.2M
    rows at ANY SF - the mann_kendall posture): one broadcast self-join
    of the <=|days| daily aggregate, map-side products, no global sort.
    The numerator magnitudes stay under DECIMAL(38,0)/HUGEINT until
    daily revenue reaches ~1e13 cents over a 10-year calendar; past
    that, rescale the cents unit (documented bound, not a silent cap).
    The oracle's 1e8 snap runs quotient-remainder (S = (|num|//n4)*1e8
    + half-up of the remainder) so the snap itself adds no headroom
    demand beyond the numerators — the numerator bound above is the
    only overflow bound on either engine.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        (F.sum(money("o_totalprice")) * 100).cast("decimal(38,0)").alias("y"),
    )
    # AQE coalesces the tiny daily aggregate to ONE partition, which
    # would serialize the calendar² pair fan (5.8M rows at a 2400-day
    # calendar) on one core — fan the probe side out first (measured
    # 7.7 → 1.4 s at sf0.1; no-op when the input is already wide)
    from candyspark.sources.readers import fan_out

    lhs = fan_out(
        daily.select(
            F.col("d").alias("di"), F.col("x").alias("xi"), F.col("y").alias("yi")
        )
    )
    rhs = daily.select(
        F.col("d").alias("dj"), F.col("x").alias("xj"), F.col("y").alias("yj")
    )
    pair = lhs.join(F.broadcast(rhs)).select(
        "di",
        F.abs(F.col("xi") - F.col("xj")).cast("decimal(38,0)").alias("a"),
        F.abs(F.col("yi") - F.col("yj")).cast("decimal(38,0)").alias("b"),
    )
    rows = pair.groupBy("di").agg(
        F.sum(F.col("a") * F.col("b")).cast("decimal(38,0)").alias("t1_i"),
        F.sum("a").cast("decimal(38,0)").alias("ra"),
        F.sum("b").cast("decimal(38,0)").alias("rb"),
        F.sum(F.col("a") * F.col("a")).cast("decimal(38,0)").alias("aa_i"),
        F.sum(F.col("b") * F.col("b")).cast("decimal(38,0)").alias("bb_i"),
    )
    agg = rows.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("t1_i").cast("decimal(38,0)").alias("t1"),
        F.sum(F.col("ra") * F.col("rb")).cast("decimal(38,0)").alias("t2"),
        F.sum("ra").cast("decimal(38,0)").alias("sa"),
        F.sum("rb").cast("decimal(38,0)").alias("sb"),
        F.sum("aa_i").cast("decimal(38,0)").alias("taa"),
        F.sum(F.col("ra") * F.col("ra")).cast("decimal(38,0)").alias("t2a"),
        F.sum("bb_i").cast("decimal(38,0)").alias("tbb"),
        F.sum(F.col("rb") * F.col("rb")).cast("decimal(38,0)").alias("t2b"),
    ).collect()[0]
    n = int(agg.n_days or 0)
    t1, t2 = int(agg.t1 or 0), int(agg.t2 or 0)
    sa, sb = int(agg.sa or 0), int(agg.sb or 0)
    taa, t2a = int(agg.taa or 0), int(agg.t2a or 0)
    tbb, t2b = int(agg.tbb or 0), int(agg.t2b or 0)
    # exact integer numerators (x n^4); cents^2 units divide out in dCor
    num_cov = n * n * t1 - 2 * n * t2 + sa * sb
    num_vx = n * n * taa - 2 * n * t2a + sa * sa
    num_vy = n * n * tbb - 2 * n * t2b + sb * sb
    one = spark.range(1)
    n4i = n * n * n * n if n else 1

    def snapped(num):
        # the 8-dp snap happens in EXACT integer arithmetic: a double of
        # magnitude ~1e14 cannot round-trip through DECIMAL(28,8) (both
        # engines' double->high-scale-decimal conversions are lossy and
        # disagree); an integer S = round(num*1e8/n^4) converts to double
        # correctly-rounded in both engines, and S/1e8 is one IEEE divide
        sign = -1 if num < 0 else 1
        s_int = sign * ((abs(num) * 10**8 * 2 + n4i) // (2 * n4i))
        return F.lit(str(s_int)).cast("decimal(38,0)").cast("double") / F.lit(1e8)

    # cents scale: dcov2/dvary carry the cents unit (documented); dCor is
    # unit-free because the cents factors cancel between num_cov and num_vy
    dcov2 = snapped(num_cov)
    dvarx = snapped(num_vx)
    dvary = snapped(num_vy)
    dcor = F.when(
        (dvarx > 0) & (dvary > 0),
        snap_round(F.sqrt(F.greatest(F.lit(0.0), dcov2) / F.sqrt(dvarx * dvary)), 6),
    )
    return one.select(
        F.lit(n).cast("long").alias("n_days"),
        dcov2.alias("dcov2_cents"),
        dvarx.alias("dvar_orders"),
        dvary.alias("dvar_revenue_cents"),
        dcor.alias("dcor"),
    )


DISTANCE_CORRELATION_SQL = """
WITH daily AS (
    SELECT o_orderdate AS d,
           CAST(COUNT(*) AS HUGEINT) AS x,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS HUGEINT) AS y
    FROM orders GROUP BY 1
),
pair AS (
    SELECT i.d AS di,
           CAST(ABS(i.x - j.x) AS HUGEINT) AS a,
           CAST(ABS(i.y - j.y) AS HUGEINT) AS b
    FROM daily i CROSS JOIN daily j
),
rows_ AS (
    SELECT di,
           SUM(a * b) AS t1_i, SUM(a) AS ra, SUM(b) AS rb,
           SUM(a * a) AS aa_i, SUM(b * b) AS bb_i
    FROM pair GROUP BY 1
),
agg AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(t1_i) AS t1, SUM(ra * rb) AS t2,
           SUM(ra) AS sa, SUM(rb) AS sb,
           SUM(aa_i) AS taa, SUM(ra * ra) AS t2a,
           SUM(bb_i) AS tbb, SUM(rb * rb) AS t2b
    FROM rows_
),
nums AS (
    SELECT CAST(n AS BIGINT) AS n_days,
           n * n * t1 - 2 * n * t2 + sa * sb AS num_cov,
           n * n * taa - 2 * n * t2a + sa * sa AS num_vx,
           n * n * tbb - 2 * n * t2b + sb * sb AS num_vy,
           n * n * n * n AS n4i
    FROM agg
),
stats AS (
    -- integer-domain half-up snap at 8 dp (see the Spark docstring):
    -- S = sign * round_half_up(|num|*1e8 / n4), computed by
    -- quotient-remainder so no intermediate exceeds |num|*1e8/n4:
    -- S = (|num|//n4)*1e8 + ((|num|%n4)*2e8 + n4) // (2*n4)
    -- (exact: the quotient term is a multiple of 2*n4 pre-division) --
    -- the naive |num|*2e8 form would burn ~8 orders of HUGEINT headroom
    SELECT n_days,
           CAST((CASE WHEN num_cov < 0 THEN -1 ELSE 1 END)
               * ((ABS(num_cov) // n4i) * 100000000
                  + ((ABS(num_cov) % n4i) * 100000000 * 2 + n4i) // (2 * n4i))
               AS DOUBLE) / 1e8 AS dcov2_cents,
           CAST((CASE WHEN num_vx < 0 THEN -1 ELSE 1 END)
               * ((ABS(num_vx) // n4i) * 100000000
                  + ((ABS(num_vx) % n4i) * 100000000 * 2 + n4i) // (2 * n4i))
               AS DOUBLE) / 1e8 AS dvar_orders,
           CAST((CASE WHEN num_vy < 0 THEN -1 ELSE 1 END)
               * ((ABS(num_vy) // n4i) * 100000000
                  + ((ABS(num_vy) % n4i) * 100000000 * 2 + n4i) // (2 * n4i))
               AS DOUBLE) / 1e8 AS dvar_revenue_cents
    FROM nums
)
SELECT n_days, dcov2_cents, dvar_orders, dvar_revenue_cents,
       CASE WHEN dvar_orders > 0 AND dvar_revenue_cents > 0
            THEN CAST(ROUND(CAST(SQRT(GREATEST(0.0, dcov2_cents)
                 / SQRT(dvar_orders * dvar_revenue_cents)) AS DECIMAL(28,8)), 6)
                 AS DOUBLE)
            END AS dcor
FROM stats
"""


# ---------------------------------------------------------------------------
# Exact Bayesian A/B (Beta-Binomial P(B > A))
# ---------------------------------------------------------------------------


def q_bayesian_ab_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Bayesian A/B read of the md5-split conversion experiment:
    P(p_B > p_A) under independent Beta(1+x, 1+n-x) posteriors - the
    decision-facing number ab_ztest's p-value is usually misread as.
    Computed EXACTLY (Evan Miller's closed form), not by sampling:

        P(p_B > p_A) = sum_{i=0}^{aB-1} B(aA+i, bA+bB)
                       / ((bB+i) * B(1+i, bB) * B(aA, bA))

    The factorials go RELATIONAL (the fisher_exact_test ladder): one
    cumulative window of 8-dp-snapped ln's makes every
    ln B(x,y) = lf(x-1) + lf(y-1) - lf(x+y-1) exact decimal algebra, and
    the i-sum is max-shifted before exp so it stays stable past double
    underflow. No RNG, no Monte Carlo - both engines produce the same
    posterior probability on every run.

    At 100 TB the exact sum is O(successes_B) ladder rows - right for
    the bounded-cohort experiments this family targets; for billions of
    conversions ab_ztest's normal read is the correct tool and this
    plan's range-ladder is the only part that grows. Counts are one
    bounded 1-row collect (the fisher/set-cover precedent).
    """
    e = load_table(spark, sf_dir, "events")
    arm = char_hash32(F.col("user_id").cast("string")) % 2
    per_user = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    )
    counts = (
        per_user.withColumn("arm", arm)
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0)).alias(
                "xa"
            ),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("nb"),
            F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0)).alias(
                "xb"
            ),
        )
        .collect()[0]
    )
    na, xa = int(counts.na or 0), int(counts.xa or 0)
    nb, xb = int(counts.nb or 0), int(counts.xb or 0)
    a_a, b_a = xa + 1, na - xa + 1
    a_b, b_b = xb + 1, nb - xb + 1
    nmax = na + nb + 2
    ladder = (
        spark.range(0, nmax + 1)
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
        .localCheckpoint()  # the k-term joins and the consts row reuse it
    )

    def look(nm):
        return ladder.select(F.col("i").alias(f"i_{nm}"), F.col("lf").alias(nm))

    consts = (
        ladder.filter(F.col("i") == b_a + b_b - 1)
        .select(F.col("lf").alias("lf_babb"))
        .crossJoin(
            ladder.filter(F.col("i") == b_b - 1).select(F.col("lf").alias("lf_bb1"))
        )
        .crossJoin(
            ladder.filter(F.col("i") == a_a - 1).select(F.col("lf").alias("lf_aa1"))
        )
        .crossJoin(
            ladder.filter(F.col("i") == b_a - 1).select(F.col("lf").alias("lf_ba1"))
        )
        .crossJoin(
            ladder.filter(F.col("i") == a_a + b_a - 1).select(
                F.col("lf").alias("lf_aba1")
            )
        )
    )
    lp_terms = (
        spark.range(0, a_b)
        .select(F.col("id").alias("k"))
        .join(look("lf_aak"), F.lit(a_a - 1) + F.col("k") == F.col("i_lf_aak"))
        .join(look("lf_k"), F.col("k") == F.col("i_lf_k"))
        .join(look("lf_kbb"), F.col("k") + F.lit(b_b) == F.col("i_lf_kbb"))
        .join(
            look("lf_all"),
            F.lit(a_a + b_a + b_b - 1) + F.col("k") == F.col("i_lf_all"),
        )
        .crossJoin(F.broadcast(consts))
        .select(
            (
                F.col("lf_aak")
                + F.col("lf_babb")
                - F.col("lf_all")
                - F.round(
                    F.log((F.col("k") + F.lit(b_b)).cast("double")).cast(
                        "decimal(18,8)"
                    ),
                    8,
                ).cast("decimal(28,8)")
                - F.col("lf_k")
                - F.col("lf_bb1")
                + F.col("lf_kbb")
                - F.col("lf_aa1")
                - F.col("lf_ba1")
                + F.col("lf_aba1")
            )
            .cast("decimal(28,8)")
            .alias("lp"),
        )
    )
    m_row = lp_terms.agg(F.max("lp").alias("m"))
    summed = (
        lp_terms.crossJoin(F.broadcast(m_row))
        .select(
            "m",
            F.round(
                F.exp((F.col("lp") - F.col("m")).cast("double")).cast(
                    "decimal(14,12)"
                ),
                12,
            ).alias("term"),
        )
        .groupBy("m")
        .agg(F.sum("term").alias("s"))
    )
    p = snap_round(
        F.exp(
            F.col("m").cast("double")
            + F.round(F.log(F.col("s").cast("double")).cast("decimal(18,9)"), 9)
            .cast("double")
        ),
        6,
    )
    lift = snap_round(
        F.lit(float(a_b) / float(a_b + b_b)) - F.lit(float(a_a) / float(a_a + b_a)),
        6,
    )
    return summed.select(
        F.lit(na).cast("long").alias("n_a"),
        F.lit(xa).cast("long").alias("x_a"),
        F.lit(nb).cast("long").alias("n_b"),
        F.lit(xb).cast("long").alias("x_b"),
        p.alias("p_b_beats_a"),
        lift.alias("posterior_mean_lift"),
        ((p > 0.95) | (p < 0.05)).alias("decisive"),
    )


BAYESIAN_AB_BETA_SQL = """
WITH per_user AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
    FROM events GROUP BY 1
),
counts AS (
    SELECT
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS xa,
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS xb
    FROM (
        SELECT converted,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 2 AS arm
        FROM per_user
    )
),
params AS (
    SELECT na, xa, nb, xb,
           xa + 1 AS aa, na - xa + 1 AS ba,
           xb + 1 AS ab_, nb - xb + 1 AS bb
    FROM counts
),
ladder AS MATERIALIZED (
    SELECT i,
           CAST(SUM(ln_i) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING)
               AS DECIMAL(28,8)) AS lf
    FROM (
        SELECT g.i,
               CASE WHEN g.i = 0 THEN CAST(0 AS DECIMAL(18,8))
                    ELSE CAST(ROUND(CAST(LN(CAST(g.i AS DOUBLE))
                        AS DECIMAL(18,8)), 8) AS DECIMAL(18,8)) END AS ln_i
        FROM (SELECT UNNEST(generate_series(0,
                  (SELECT CAST(na + nb + 2 AS BIGINT) FROM counts))) AS i) g
    )
),
lp_terms AS MATERIALIZED (
    SELECT CAST(
        l_aak.lf + l_babb.lf - l_all.lf
        - CAST(ROUND(CAST(LN(CAST(k.k + p.bb AS DOUBLE)) AS DECIMAL(18,8)), 8)
            AS DECIMAL(28,8))
        - l_k.lf - l_bb1.lf + l_kbb.lf - l_aa1.lf - l_ba1.lf + l_aba1.lf
        AS DECIMAL(28,8)) AS lp
    FROM (SELECT UNNEST(generate_series(0,
              (SELECT CAST(ab_ - 1 AS BIGINT) FROM params))) AS k) k
    CROSS JOIN params p
    JOIN ladder l_aak ON l_aak.i = p.aa - 1 + k.k
    JOIN ladder l_k ON l_k.i = k.k
    JOIN ladder l_kbb ON l_kbb.i = k.k + p.bb
    JOIN ladder l_all ON l_all.i = p.aa + p.ba + p.bb - 1 + k.k
    JOIN ladder l_babb ON l_babb.i = p.ba + p.bb - 1
    JOIN ladder l_bb1 ON l_bb1.i = p.bb - 1
    JOIN ladder l_aa1 ON l_aa1.i = p.aa - 1
    JOIN ladder l_ba1 ON l_ba1.i = p.ba - 1
    JOIN ladder l_aba1 ON l_aba1.i = p.aa + p.ba - 1
),
m_row AS (SELECT MAX(lp) AS m FROM lp_terms),
summed AS (
    SELECT m, SUM(CAST(ROUND(CAST(EXP(CAST(lp - m AS DOUBLE))
               AS DECIMAL(14,12)), 12) AS DECIMAL(14,12))) AS s
    FROM lp_terms CROSS JOIN m_row
    GROUP BY m
),
final AS (
    SELECT c.na AS n_a, c.xa AS x_a, c.nb AS n_b, c.xb AS x_b,
           CAST(ROUND(CAST(EXP(CAST(m AS DOUBLE)
               + CAST(ROUND(CAST(LN(CAST(s AS DOUBLE)) AS DECIMAL(18,9)), 9)
                   AS DOUBLE)) AS DECIMAL(28,8)), 6) AS DOUBLE) AS p_b_beats_a,
           CAST(ROUND(CAST(
               CAST(p.ab_ AS DOUBLE) / (p.ab_ + p.bb)
               - CAST(p.aa AS DOUBLE) / (p.aa + p.ba)
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS posterior_mean_lift
    FROM summed CROSS JOIN counts c CROSS JOIN params p
)
SELECT n_a, x_a, n_b, x_b, p_b_beats_a, posterior_mean_lift,
       (p_b_beats_a > 0.95 OR p_b_beats_a < 0.05) AS decisive
FROM final
"""


# ---------------------------------------------------------------------------
# Dickey-Fuller unit-root test
# ---------------------------------------------------------------------------


def q_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test on daily revenue: is the series
    mean-reverting (stationary around a level) or a random walk? The
    STRUCTURAL stationarity read beside hurst_exponent's R/S heuristic
    and mann_kendall's trend test - every ARIMA/forecast consumer
    upstream assumes an answer to this.

    Regression dy_t = alpha + gamma*y_{t-1} + e on the lag-joined daily
    series (one window pass over the calendar-bounded relation): gamma
    and its t-statistic tau assemble from six exact cents-integer power
    sums (the granger discipline - daily revenue in cents is an integer,
    so Sx/Sxx/Sxy/Syy are exact DECIMAL(38,0) and both engines feed the
    identical closed-form double expression identical inputs; only the
    small final ratios gamma/tau are snapped). tau compares against the
    MacKinnon 5% constant-case critical value -2.86 as an exact literal
    - the Dickey-Fuller distribution has no closed CDF and the critical
    value IS how practice uses it.

    At 100 TB: one keyed day aggregate, one single-partition window over
    <=|days| rows, one 1-row rollup.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        (F.sum(money("o_totalprice")) * 100).cast("decimal(38,0)").alias("y")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "d", "y", F.lag("y").over(w).alias("x")
    ).filter(F.col("x").isNotNull())
    sums = lagged.select(
        (F.col("y") - F.col("x")).alias("dy"), F.col("x")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("dy").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("dy").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("dy").cast("decimal(19,0)") * F.col("dy").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    den = n * sxx - sx * sx
    gamma_raw = (n * sxy - sx * sy) / den
    # RSS via the centered-moment identity; rounding is identical in both
    # engines because the expression tree (on identical exact inputs) is
    rss = (
        (syy - sy * sy / n)
        - gamma_raw * gamma_raw * (sxx - sx * sx / n)
    )
    se = F.sqrt((rss / (n - 2.0)) * n / den)
    gamma = snap_round(gamma_raw, 8)
    # a numerically-perfect fit (rss <= 0 after cancellation) has no
    # sampling noise to test against: honest NULL tau (the chow_break rule).
    # raw-double comparison: both engines hold the identical rss double
    # (snapping would overflow DECIMAL(28,8) at ~1e18 cents^2 magnitudes)
    tau = F.when(rss > 0, snap_round(gamma_raw / se, 4))
    return sums.select(
        F.col("n").alias("n_days"),
        gamma.alias("gamma"),
        snap_round(F.lit(1.0) + gamma_raw, 8).alias("ar1_coeff"),
        tau.alias("tau"),
        (tau < -2.86).alias("stationary_5pct"),
    )


DICKEY_FULLER_SQL = """
WITH daily AS (
    SELECT o_orderdate AS d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100
               AS DECIMAL(38,0)) AS y
    FROM orders GROUP BY 1
),
lagged AS (
    SELECT y, LAG(y) OVER (ORDER BY d) AS x FROM daily
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
           CAST(SUM(y - x) AS DECIMAL(38,0)) AS sy,
           CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
               AS DECIMAL(38,0)) AS sxx,
           CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y - x AS DECIMAL(19,0)))
               AS DECIMAL(38,0)) AS sxy,
           CAST(SUM(CAST(y - x AS DECIMAL(19,0)) * CAST(y - x AS DECIMAL(19,0)))
               AS DECIMAL(38,0)) AS syy
    FROM lagged WHERE x IS NOT NULL
),
stat AS (
    SELECT n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS gamma_raw,
           CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
           CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE) AS sxyd,
           CAST(syy AS DOUBLE) AS syyd
    FROM sums
)
SELECT n AS n_days,
       CAST(ROUND(CAST(gamma_raw AS DECIMAL(28,8)), 8) AS DOUBLE) AS gamma,
       CAST(ROUND(CAST(1.0 + gamma_raw AS DECIMAL(28,8)), 8) AS DOUBLE)
           AS ar1_coeff,
       CASE WHEN (syyd - syd * syd / n)
                 - gamma_raw * gamma_raw * (sxxd - sxd * sxd / n) > 0
            THEN CAST(ROUND(CAST(gamma_raw / SQRT(
                (((syyd - syd * syd / n)
                  - gamma_raw * gamma_raw * (sxxd - sxd * sxd / n)) / (n - 2.0))
                * n / (CAST(n AS DOUBLE) * sxxd - sxd * sxd)
            ) AS DECIMAL(28,8)), 4) AS DOUBLE) END AS tau,
       CASE WHEN (syyd - syd * syd / n)
                 - gamma_raw * gamma_raw * (sxxd - sxd * sxd / n) > 0
            THEN CAST(ROUND(CAST(gamma_raw / SQRT(
                (((syyd - syd * syd / n)
                  - gamma_raw * gamma_raw * (sxxd - sxd * sxd / n)) / (n - 2.0))
                * n / (CAST(n AS DOUBLE) * sxxd - sxd * sxd)
            ) AS DECIMAL(28,8)), 4) AS DOUBLE) < -2.86 END AS stationary_5pct
FROM stat
"""


# ---------------------------------------------------------------------------
# KPSS level-stationarity test
# ---------------------------------------------------------------------------

_KPSS_LAGS = 7


def q_kpss_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity test on daily revenue - the NULL-reversed
    twin of dickey_fuller (DF's null is a unit root; KPSS's null is
    stationarity). Running both gives the four-quadrant read practice
    relies on: both agree -> trust it; both reject -> structural break /
    neither model fits.

    eta = sum_t S_t^2 / (n^2 * s2_lr), with S_t the partial sums of the
    demeaned series and s2_lr the Bartlett long-run variance at lag 7
    (one week - the series' dominant short cycle, fixed by design not
    data-sniffed). Demeaned residuals snap at 2 dp (cents magnitudes:
    an 8-dp snap of a ~1e9 value would not round-trip DECIMAL(28,8) -
    the distance_correlation lesson); partial sums and all lag products
    then accumulate in EXACT decimal, so eta's numerator and every
    autocovariance are identical in both engines before the single
    snapped final ratio. Critical value 0.463 (5%, level case).

    At 100 TB: one keyed day aggregate, one single-partition window pass
    carrying the 7 lag columns, one rollup - calendar-bounded.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        (F.sum(money("o_totalprice")) * 100).cast("decimal(38,0)").alias("y")
    )
    mu = daily.agg(
        (F.sum("y").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mu_raw"
        )
    ).select(F.round(F.col("mu_raw").cast("decimal(28,2)"), 2).alias("mu"))
    e = daily.crossJoin(F.broadcast(mu)).select(
        "d",
        (F.col("y").cast("decimal(28,2)") - F.col("mu")).cast("decimal(28,2)").alias(
            "e"
        ),
    )
    w = Window.orderBy("d")
    cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    with_lags = e.select(
        "d",
        "e",
        F.sum("e").over(cum).cast("decimal(38,2)").alias("s"),
        *[
            F.lag("e", lag).over(w).alias(f"e{lag}")
            for lag in range(1, _KPSS_LAGS + 1)
        ],
    )
    agg = with_lags.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.col("s").cast("decimal(19,2)") * F.col("s").cast("decimal(19,2)")
        )
        .cast("decimal(38,4)")
        .alias("ss2"),
        F.sum(
            F.col("e").cast("decimal(19,2)") * F.col("e").cast("decimal(19,2)")
        )
        .cast("decimal(38,4)")
        .alias("g0"),
        *[
            F.sum(
                F.col("e").cast("decimal(19,2)")
                * F.col(f"e{lag}").cast("decimal(19,2)")
            )
            .cast("decimal(38,4)")
            .alias(f"g{lag}")
            for lag in range(1, _KPSS_LAGS + 1)
        ],
    )
    n = F.col("n").cast("double")
    s2_lr = F.col("g0").cast("double") / n
    for lag in range(1, _KPSS_LAGS + 1):
        wgt = 1.0 - lag / (_KPSS_LAGS + 1.0)
        s2_lr = s2_lr + 2.0 * wgt * F.col(f"g{lag}").cast("double") / n
    # a non-positive Bartlett long-run variance (possible under strong
    # negative autocorrelation, e.g. a hard-alternating series) leaves the
    # statistic undefined: honest NULL, raw-double comparison (identical
    # operands both engines)
    eta = F.when(
        s2_lr > 0, snap_round(F.col("ss2").cast("double") / (n * n * s2_lr), 6)
    )
    return agg.select(
        F.col("n").alias("n_days"),
        eta.alias("kpss_stat"),
        (eta < 0.463).alias("level_stationary_5pct"),
    )


def _kpss_lr_sql() -> str:
    parts = ["CAST(g0 AS DOUBLE) / n"]
    for lag in range(1, _KPSS_LAGS + 1):
        wgt = 1.0 - lag / (_KPSS_LAGS + 1.0)
        parts.append(f"2.0 * {wgt!r} * CAST(g{lag} AS DOUBLE) / n")
    return " + ".join(parts)


KPSS_TEST_SQL = f"""
WITH daily AS (
    SELECT o_orderdate AS d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100
               AS DECIMAL(38,0)) AS y
    FROM orders GROUP BY 1
),
mu AS (
    SELECT CAST(ROUND(CAST(CAST(SUM(y) AS DOUBLE) / COUNT(*)
        AS DECIMAL(28,2)), 2) AS DECIMAL(28,2)) AS mu
    FROM daily
),
e AS (
    SELECT d, CAST(CAST(y AS DECIMAL(28,2)) - mu AS DECIMAL(28,2)) AS e
    FROM daily CROSS JOIN mu
),
with_lags AS (
    SELECT d, e,
           CAST(SUM(e) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
               AS DECIMAL(38,2)) AS s,
           {", ".join(f"LAG(e, {lag}) OVER (ORDER BY d) AS e{lag}" for lag in range(1, _KPSS_LAGS + 1))}
    FROM e
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(s AS DECIMAL(19,2)) * CAST(s AS DECIMAL(19,2)))
               AS DECIMAL(38,4)) AS ss2,
           CAST(SUM(CAST(e AS DECIMAL(19,2)) * CAST(e AS DECIMAL(19,2)))
               AS DECIMAL(38,4)) AS g0,
           {", ".join(f"CAST(SUM(CAST(e AS DECIMAL(19,2)) * CAST(e{lag} AS DECIMAL(19,2))) AS DECIMAL(38,4)) AS g{lag}" for lag in range(1, _KPSS_LAGS + 1))}
    FROM with_lags
)
SELECT n AS n_days,
       CASE WHEN ({_kpss_lr_sql()}) > 0
            THEN CAST(ROUND(CAST(CAST(ss2 AS DOUBLE)
                / (CAST(n AS DOUBLE) * n * ({_kpss_lr_sql()}))
                AS DECIMAL(28,8)), 6) AS DOUBLE) END AS kpss_stat,
       CASE WHEN ({_kpss_lr_sql()}) > 0
            THEN CAST(ROUND(CAST(CAST(ss2 AS DOUBLE)
                / (CAST(n AS DOUBLE) * n * ({_kpss_lr_sql()}))
                AS DECIMAL(28,8)), 6) AS DOUBLE) < 0.463
            END AS level_stationary_5pct
FROM agg
"""


# ---------------------------------------------------------------------------
# Bradley-Terry pairwise-strength ranking
# ---------------------------------------------------------------------------

_BT_ROUNDS = 5


def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength ranking of part brands from within-order
    pairwise contests: when two brands share an order, the one shipped
    in larger quantity "wins" the basket. BT turns those noisy local
    wins into one consistent global strength scale p_i (P(i beats j) =
    p_i/(p_i+p_j)) - the principled aggregate that win-RATE tables get
    wrong when matchups are unbalanced (a brand feasting on weak
    opponents ranks above one that splits against the strongest).

    Fit by _BT_ROUNDS unrolled MM rounds (Hunter 2004):
    p'_i = w_i / sum_j n_ij/(p_i+p_j), renormalized to sum 1 - each
    round's per-edge terms snapped at 10 dp and summed in exact DECIMAL
    (the pagerank/raking discipline), so the oracle mirrors the
    iteration exactly. Ties in quantity are no-contests.

    At 100 TB: contests reduce per order (bounded pairs-per-order, the
    rich_club posture) to a <=|brands|^2 directed match matrix
    (checkpointed once); each MM round is two broadcast joins + one
    aggregate over <=600 rows. The strength solve never sees row scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    lines = li.join(
        p.select("p_partkey", "p_brand"), li["l_partkey"] == p["p_partkey"]
    ).select("l_orderkey", F.col("p_brand").alias("brand"), "l_quantity")
    contests = (
        lines.alias("i")
        .join(
            lines.alias("j"),
            (F.col("i.l_orderkey") == F.col("j.l_orderkey"))
            & (F.col("i.brand") < F.col("j.brand")),
        )
        .select(
            F.col("i.brand").alias("a"),
            F.col("j.brand").alias("b"),
            (F.col("i.l_quantity") > F.col("j.l_quantity")).cast("long").alias("wa"),
            (F.col("j.l_quantity") > F.col("i.l_quantity")).cast("long").alias("wb"),
        )
        .filter((F.col("wa") + F.col("wb")) > 0)  # ties are no-contests
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ab"),
            F.sum("wa").cast("long").alias("w_a"),
            F.sum("wb").cast("long").alias("w_b"),
        )
    )
    # directed view: one row per (player, opponent)
    m = (
        contests.select("a", "b", "n_ab", F.col("w_a").alias("w"))
        .unionByName(
            contests.select(
                F.col("b").alias("a"), F.col("a").alias("b"), "n_ab",
                F.col("w_b").alias("w"),
            )
        )
        .localCheckpoint()  # <=|brands|^2 rows; every MM round reuses it
    )
    wins = m.groupBy("a").agg(
        F.sum("w").cast("long").alias("wins"),
        F.sum("n_ab").cast("long").alias("matches"),
    )
    n_brands = wins.count()
    p0 = 1.0 / n_brands if n_brands else 1.0
    strength = wins.select("a", F.lit(p0).alias("p")).localCheckpoint()
    for _ in range(_BT_ROUNDS):
        pa = strength.select(F.col("a").alias("pa_key"), F.col("p").alias("p_a"))
        pb = strength.select(F.col("a").alias("pb_key"), F.col("p").alias("p_b"))
        denom = (
            m.join(F.broadcast(pa), F.col("a") == F.col("pa_key"))
            .join(F.broadcast(pb), F.col("b") == F.col("pb_key"))
            .select(
                "a",
                F.round(
                    (
                        F.col("n_ab").cast("double")
                        / (F.col("p_a") + F.col("p_b"))
                    ).cast("decimal(28,10)"),
                    10,
                ).alias("term"),
            )
            .groupBy("a")
            .agg(F.sum("term").cast("decimal(38,10)").alias("denom"))
        )
        raw = denom.join(F.broadcast(wins), "a").select(
            "a",
            F.round(
                (F.col("wins").cast("double") / F.col("denom").cast("double")).cast(
                    "decimal(28,10)"
                ),
                10,
            )
            .cast("decimal(28,10)")
            .alias("p_raw"),
        )
        total = raw.agg(F.sum("p_raw").cast("decimal(38,10)").alias("tot"))
        strength = (
            raw.crossJoin(F.broadcast(total))
            .select(
                "a",
                # p lands as DOUBLE so next round's p_a + p_b is IEEE
                # addition in both engines (the oracle's p{k} is DOUBLE)
                F.round(
                    (
                        F.col("p_raw").cast("double") / F.col("tot").cast("double")
                    ).cast("decimal(28,10)"),
                    10,
                )
                .cast("double")
                .alias("p"),
            )
            .localCheckpoint()
        )
    ranked = strength.join(wins, "a").select(
        F.col("a").alias("brand"),
        snap_round(F.col("p"), 8).alias("strength"),
        "wins",
        "matches",
    )
    w_rank = Window.orderBy(F.desc("strength"), "brand")
    return ranked.select(
        "brand",
        "strength",
        "wins",
        "matches",
        F.row_number().over(w_rank).cast("long").alias("rank"),
    )


def _bt_sql_round(k: int) -> str:
    return f"""
p{k} AS (
    SELECT a,
           CAST(ROUND(CAST(CAST(p_raw AS DOUBLE)
               / CAST(SUM(p_raw) OVER () AS DOUBLE)
               AS DECIMAL(28,10)), 10) AS DOUBLE) AS p
    FROM (
        SELECT w.a,
               CAST(CAST(ROUND(CAST(CAST(w.wins AS DOUBLE)
                   / CAST(d.denom AS DOUBLE)
                   AS DECIMAL(28,10)), 10) AS DECIMAL(28,10))
                   AS DECIMAL(28,10)) AS p_raw
        FROM (
            SELECT m.a,
                   CAST(SUM(CAST(ROUND(CAST(CAST(m.n_ab AS DOUBLE)
                       / (pa.p + pb.p) AS DECIMAL(28,10)), 10)
                       AS DECIMAL(28,10))) AS DECIMAL(38,10)) AS denom
            FROM m
            JOIN p{k - 1} pa ON m.a = pa.a
            JOIN p{k - 1} pb ON m.b = pb.a
            GROUP BY m.a
        ) d JOIN wins w ON d.a = w.a
    )
)"""


BRADLEY_TERRY_SQL = (
    """
WITH lines AS (
    SELECT l_orderkey, p.p_brand AS brand, l_quantity
    FROM lineitem li JOIN part p ON li.l_partkey = p.p_partkey
),
contests AS (
    SELECT i.brand AS a, j.brand AS b,
           CAST(COUNT(*) AS BIGINT) AS n_ab,
           CAST(SUM(CASE WHEN i.l_quantity > j.l_quantity THEN 1 ELSE 0 END)
               AS BIGINT) AS w_a,
           CAST(SUM(CASE WHEN j.l_quantity > i.l_quantity THEN 1 ELSE 0 END)
               AS BIGINT) AS w_b
    FROM lines i JOIN lines j
      ON i.l_orderkey = j.l_orderkey AND i.brand < j.brand
    WHERE i.l_quantity <> j.l_quantity
    GROUP BY 1, 2
),
m AS (
    SELECT a, b, n_ab, w_a AS w FROM contests
    UNION ALL
    SELECT b AS a, a AS b, n_ab, w_b AS w FROM contests
),
wins AS (
    SELECT a, CAST(SUM(w) AS BIGINT) AS wins,
           CAST(SUM(n_ab) AS BIGINT) AS matches
    FROM m GROUP BY 1
),
p0 AS (
    SELECT a, 1.0 / (SELECT COUNT(*) FROM wins) AS p FROM wins
),"""
    + ",".join(_bt_sql_round(k) for k in range(1, _BT_ROUNDS + 1))
    + f"""
SELECT w.a AS brand,
       CAST(ROUND(CAST(p.p AS DECIMAL(28,8)), 8) AS DOUBLE) AS strength,
       w.wins, w.matches,
       CAST(ROW_NUMBER() OVER (
           ORDER BY CAST(ROUND(CAST(p.p AS DECIMAL(28,8)), 8) AS DOUBLE) DESC,
                    w.a) AS BIGINT) AS rank
FROM p{_BT_ROUNDS} p JOIN wins w ON p.a = w.a
"""
)


# ---------------------------------------------------------------------------
# Two-sample Anderson-Darling (tail-weighted CDF equality)
# ---------------------------------------------------------------------------


def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling on returned-vs-kept discount
    distributions — the tail-sensitive companion to ks_test (KS weighs
    the CDF supremum, AD integrates the squared gap with 1/(H(1-H))
    weighting, so divergence in the tails — exactly where pricing abuse
    lives — counts hardest).

    Pettitt's discrete two-sample form over the pooled ECDF:

        A² = Σ_j  l_j · (ca_j·n_b − cb_j·n_a)² / (n_a·n_b·B_j·(N−B_j))

    over distinct values j with pooled cumulative B_j < N. Every factor
    is an exact integer from the same ≤11-row bounded-support aggregate
    ks_test rides; each per-value term is snapped at 8 dp and summed in
    exact DECIMAL (the cox/raking round discipline), so both engines add
    identical addends in any order. Significance gates on the asymptotic
    α=0.05 critical value 2.492 (same limiting law as one-sample AD) —
    documented asymptotic, no CDF series needed.

    At 100 TB: one map-side-combined aggregate to ≤11 rows, then
    constant-size algebra — identical posture to ks_test.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_v = returned_vs_kept(li, F.round(F.col("l_discount") * 100, 0).cast("long"))
    cums = split_cums(per_v, (F.col("na_v") + F.col("nb_v")).alias("l"))
    totals = split_totals(per_v)
    # gap algebra in DECIMAL end to end: the int64 products ca·n_b wrap
    # silently past pooled N ~ 3e9 (and x² already wraps past sf0.1)
    x = (
        F.col("ca").cast("decimal(19,0)") * F.col("n_b").cast("decimal(19,0)")
        - F.col("cb").cast("decimal(19,0)") * F.col("n_a").cast("decimal(19,0)")
    ).cast("decimal(19,0)")
    big = F.col("l").cast("decimal(38,0)") * (x * x).cast("decimal(38,0)")
    den = (
        (F.col("n_a").cast("decimal(19,0)") * F.col("n_b").cast("decimal(19,0)")).cast(
            "decimal(38,0)"
        )
        * (F.col("ca") + F.col("cb")).cast("decimal(38,0)")
        * (F.col("n_a") + F.col("n_b") - F.col("ca") - F.col("cb")).cast(
            "decimal(38,0)"
        )
    )
    term = F.round(
        (big.cast("double") / den.cast("double")).cast("decimal(28,8)"), 8
    ).cast("decimal(28,8)")
    a2 = (
        cums.crossJoin(F.broadcast(totals))
        .filter(F.col("ca") + F.col("cb") < F.col("n_a") + F.col("n_b"))
        .groupBy("n_a", "n_b")
        .agg(F.sum(term).cast("double").alias("a2_raw"))
    )
    return a2.select(
        "n_a",
        "n_b",
        snap_round(F.col("a2_raw"), 6).alias("a2"),
        (snap_round(F.col("a2_raw"), 6) > 2.492).alias("significant"),
    )


ANDERSON_DARLING_SQL = f"""
WITH {split_sql("CAST(ROUND(l_discount * 100, 0) AS BIGINT)")},
{SPLIT_CUMS_SQL},
{SPLIT_TOTALS_SQL},
a2 AS (
    SELECT n_a, n_b,
           CAST(SUM(CAST(ROUND(CAST(
               CAST(CAST(l AS HUGEINT)
                    * (CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
                    * (CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
                    AS DOUBLE)
               / CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
                      * CAST(ca + cb AS HUGEINT)
                      * CAST(n_a + n_b - ca - cb AS HUGEINT) AS DOUBLE)
               AS DECIMAL(28,8)), 8) AS DECIMAL(28,8))) AS DOUBLE) AS a2_raw
    FROM cums CROSS JOIN totals
    WHERE ca + cb < n_a + n_b
    GROUP BY n_a, n_b
)
SELECT n_a, n_b,
       CAST(ROUND(CAST(a2_raw AS DECIMAL(28,8)), 6) AS DOUBLE) AS a2,
       CAST(ROUND(CAST(a2_raw AS DECIMAL(28,8)), 6) AS DOUBLE) > 2.492
           AS significant
FROM a2
"""


# ---------------------------------------------------------------------------
# Two-sample Cramér-von Mises (integrated squared CDF gap)
# ---------------------------------------------------------------------------


def q_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises on the same returned-vs-kept discount
    split: Anderson's T = (n_a·n_b/N²)·Σ_j l_j·(F_A(v_j) − F_B(v_j))² —
    the body-weighted sum of the squared ECDF gap over the pooled
    sample, completing the CDF trio (KS: supremum; AD: tail-weighted;
    CvM: uniform weight). E[T] under H0 is (N+1)/(6N) ≈ 1/6 and T
    diverges linearly under a fixed alternative.

    Exact-integer assembly: T·N²·n_a·n_b = Σ_j l_j·(ca_j·n_b − cb_j·n_a)²
    — ONE integer per distinct value, summed exactly in DECIMAL(38,0)
    (bounded support keeps the sum ≤ ~N⁵ ≈ 10³⁸ far beyond any driver
    SF; the cents-rescale note of distance_correlation applies past
    that). One double division at the end, snapped. Significance gates
    on the asymptotic α=0.05 critical value 0.461 of the limiting ω²
    law (documented asymptotic — the Bessel series adds nothing at
    these n).

    At 100 TB: identical posture to ks_test/anderson_darling — one
    ≤11-row aggregate, constant algebra after.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_v = returned_vs_kept(li, F.round(F.col("l_discount") * 100, 0).cast("long"))
    cums = split_cums(per_v, (F.col("na_v") + F.col("nb_v")).alias("l"))
    totals = split_totals(per_v)
    # gap algebra in DECIMAL end to end (same int64-wrap hazard as
    # anderson_darling: ca·n_b wraps past pooled N ~ 3e9)
    x = (
        F.col("ca").cast("decimal(19,0)") * F.col("n_b").cast("decimal(19,0)")
        - F.col("cb").cast("decimal(19,0)") * F.col("n_a").cast("decimal(19,0)")
    ).cast("decimal(19,0)")
    num = (
        cums.crossJoin(F.broadcast(totals))
        .groupBy("n_a", "n_b")
        .agg(
            F.sum(F.col("l").cast("decimal(38,0)") * (x * x).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("num")
        )
    )
    n_tot = (F.col("n_a") + F.col("n_b")).cast("double")
    t = F.col("num").cast("double") / (
        n_tot * n_tot * F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    return num.select(
        "n_a",
        "n_b",
        snap_round(t, 6).alias("t_stat"),
        (snap_round(t, 6) > 0.461).alias("significant"),
    )


CRAMER_VON_MISES_SQL = f"""
WITH {split_sql("CAST(ROUND(l_discount * 100, 0) AS BIGINT)")},
{SPLIT_CUMS_SQL},
{SPLIT_TOTALS_SQL},
agg AS (
    SELECT n_a, n_b,
           SUM(CAST(l AS HUGEINT)
               * (CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
               * (CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)) AS num
    FROM cums CROSS JOIN totals
    GROUP BY n_a, n_b
)
SELECT n_a, n_b,
       CAST(ROUND(CAST(
           CAST(num AS DOUBLE)
           / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE)
              * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS t_stat,
       CAST(ROUND(CAST(
           CAST(num AS DOUBLE)
           / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE)
              * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           AS DECIMAL(28,8)), 6) AS DOUBLE) > 0.461 AS significant
FROM agg
"""


# ---------------------------------------------------------------------------
# Median (LAD) regression — unrolled IRLS, the quantile-regression fit
# ---------------------------------------------------------------------------

_QR_ROUNDS = 6


def _qr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(money("o_totalprice")).cast("double").alias("y")
    )
    mind = daily.agg(F.min("d").alias("d0"))
    return daily.crossJoin(F.broadcast(mind)).select(
        F.datediff("d", "d0").cast("double").alias("x"), "y"
    )


def q_quantile_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median (LAD, τ=0.5) regression of daily revenue on the day index —
    the robust trend fit whose slope a single blowout day cannot drag
    (theilsen_trend is the pairwise-median cousin; this is the loss-
    minimizing regression form, and the fit pinball_loss evaluates).

    Iteratively reweighted least squares, _QR_ROUNDS rounds unrolled
    from the closed-form OLS seed: w = 1/max(|resid|, 0.1), weighted
    normal equations re-solved per round. Every cross-engine boundary
    follows the cox_ph discipline — weights and per-day weighted terms
    snap at 8 dp and sum in exact DECIMAL, coefficients snap at 8 dp per
    round — so the oracle replays the identical iteration bit-for-bit.
    Ships in-sample MAE for both the LAD fit and the OLS seed; on any
    tailed revenue series the LAD line must not lose on absolute error
    (asserted by the planted test, reported as lad_no_worse).

    At 100 TB: the day grain is calendar-bounded (≤ a few thousand rows
    at ANY corpus size) after one keyed aggregate over orders; each IRLS
    round is one aggregate over it — the mann_kendall posture."""
    daily = _qr_daily(spark, sf_dir).localCheckpoint()
    sums = daily.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.round(F.col("x").cast("decimal(28,8)"), 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.round(F.col("y").cast("decimal(28,8)"), 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("sy"),
        F.sum(
            F.round((F.col("x") * F.col("x")).cast("decimal(28,8)"), 8).cast(
                "decimal(28,8)"
            )
        )
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.round((F.col("x") * F.col("y")).cast("decimal(28,8)"), 8).cast(
                "decimal(28,8)"
            )
        )
        .cast("double")
        .alias("sxy"),
    )
    # the OLS seed snaps its slope BEFORE the intercept is taken from it
    b_ols = snap_round(line_fit()[0], 8)
    a_ols = snap_round(
        (F.col("sy") - b_ols * F.col("sx")) / F.col("n"), 8
    )
    beta = sums.select(
        F.col("n").cast("long").alias("n_days"),
        a_ols.alias("a_ols"),
        b_ols.alias("b_ols"),
        a_ols.alias("a"),
        b_ols.alias("b"),
    ).localCheckpoint()

    # Weighted sums run in SCALED INTEGERS (k = round(1e8·w), y in cents):
    # snapping the fractional products w·y / w·x·y lands EXACTLY on 8-dp
    # rounding ties (w is a 1e-8 multiple, y is cents ⇒ products are 1e-10
    # multiples), where the engines' double→decimal conversions disagree
    # (the Katz lesson). Integer k·x·yc sums have no fractional rounding
    # anywhere; the 1e8/1e10 scales cancel algebraically in the solve.
    def wsums(frame):
        e = F.col("y") - F.col("a") - F.col("b") * F.col("x")
        k = (
            F.round(
                (1.0e8 / F.greatest(F.abs(e), F.lit(0.1))).cast("decimal(28,8)"),
                0,
            )
            .cast("decimal(19,0)")
        )
        xi = F.col("x").cast("decimal(10,0)")
        yc = F.round((F.col("y") * 100).cast("decimal(28,8)"), 0).cast(
            "decimal(19,0)"
        )

        def si(expr):
            return F.sum(expr.cast("decimal(38,0)")).cast("double")

        return frame.groupBy("n_days", "a_ols", "b_ols", "a", "b").agg(
            si(k).alias("sk"),
            si(k * xi).alias("skx"),
            si(k * xi * xi).alias("skxx"),
            si(k * yc).alias("sky"),
            si(k * xi * yc).alias("skxy"),
        )

    for _ in range(_QR_ROUNDS):
        st = wsums(daily.crossJoin(F.broadcast(beta)))
        wdet = F.col("sk") * F.col("skxx") - F.col("skx") * F.col("skx")
        b_new = snap_round(
            F.when(
                wdet != 0,
                (F.col("sk") * F.col("skxy") - F.col("skx") * F.col("sky"))
                / wdet
                / 100.0,
            ).otherwise(F.col("b")),
            8,
        )
        beta = st.select(
            "n_days",
            "a_ols",
            "b_ols",
            snap_round(
                (F.col("sky") / 100.0 - b_new * F.col("skx")) / F.col("sk"), 8
            ).alias("a"),
            b_new.alias("b"),
        ).localCheckpoint()

    final = daily.crossJoin(F.broadcast(beta))
    e_lad = F.col("y") - F.col("a") - F.col("b") * F.col("x")
    e_ols = F.col("y") - F.col("a_ols") - F.col("b_ols") * F.col("x")
    out = final.groupBy("n_days", "a_ols", "b_ols", "a", "b").agg(
        F.sum(
            F.round(F.abs(e_lad).cast("decimal(28,8)"), 8).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("sae_lad"),
        F.sum(
            F.round(F.abs(e_ols).cast("decimal(28,8)"), 8).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("sae_ols"),
    )
    mae_lad = snap_round(F.col("sae_lad") / F.col("n_days").cast("double"), 4)
    mae_ols = snap_round(F.col("sae_ols") / F.col("n_days").cast("double"), 4)
    return out.select(
        "n_days",
        snap_round(F.col("a"), 4).alias("lad_intercept"),
        snap_round(F.col("b"), 6).alias("lad_slope"),
        mae_lad.alias("mae_lad"),
        mae_ols.alias("mae_ols"),
        (mae_lad <= mae_ols).alias("lad_no_worse"),
    )


def _qr_sql_round(k: int) -> str:
    return f"""
b{k} AS (
    SELECT n_days, a_ols, b_ols,
           CAST(ROUND(CAST((sky / 100.0 - (CASE WHEN sk * skxx - skx * skx != 0
                THEN CAST(ROUND(CAST((sk * skxy - skx * sky)
                     / (sk * skxx - skx * skx) / 100.0
                     AS DECIMAL(28,8)), 8) AS DOUBLE)
                ELSE b END) * skx) / sk AS DECIMAL(28,8)), 8) AS DOUBLE) AS a,
           CASE WHEN sk * skxx - skx * skx != 0
                THEN CAST(ROUND(CAST((sk * skxy - skx * sky)
                     / (sk * skxx - skx * skx) / 100.0
                     AS DECIMAL(28,8)), 8) AS DOUBLE)
                ELSE b END AS b
    FROM (
        SELECT n_days, a_ols, b_ols, a, b,
               CAST(SUM(CAST(kk AS HUGEINT)) AS DOUBLE) AS sk,
               CAST(SUM(CAST(kk AS HUGEINT) * CAST(xi AS HUGEINT)) AS DOUBLE)
                   AS skx,
               CAST(SUM(CAST(kk AS HUGEINT) * CAST(xi AS HUGEINT)
                        * CAST(xi AS HUGEINT)) AS DOUBLE) AS skxx,
               CAST(SUM(CAST(kk AS HUGEINT) * CAST(yc AS HUGEINT)) AS DOUBLE)
                   AS sky,
               CAST(SUM(CAST(kk AS HUGEINT) * CAST(xi AS HUGEINT)
                        * CAST(yc AS HUGEINT)) AS DOUBLE) AS skxy
        FROM (
            SELECT n_days, a_ols, b_ols, a, b,
                   CAST(ROUND(CAST(1e8 / GREATEST(ABS(d.y - a - b * d.x), 0.1)
                        AS DECIMAL(28,8)), 0) AS BIGINT) AS kk,
                   CAST(d.x AS BIGINT) AS xi,
                   CAST(ROUND(CAST(d.y * 100 AS DECIMAL(28,8)), 0) AS BIGINT)
                       AS yc
            FROM daily d CROSS JOIN b{k - 1}
        )
        GROUP BY 1, 2, 3, a, b
    )
)"""


QUANTILE_REGRESSION_SQL = (
    """
WITH daily AS (
    SELECT CAST(date_diff('day', d0, d) AS DOUBLE) AS x, y
    FROM (
        SELECT o_orderdate AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS y
        FROM orders GROUP BY 1
    ) CROSS JOIN (SELECT MIN(o_orderdate) AS d0 FROM orders)
),
sums AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(ROUND(CAST(x AS DECIMAL(28,8)), 8) AS DECIMAL(28,8)))
                AS DOUBLE) AS sx,
           CAST(SUM(CAST(ROUND(CAST(y AS DECIMAL(28,8)), 8) AS DECIMAL(28,8)))
                AS DOUBLE) AS sy,
           CAST(SUM(CAST(ROUND(CAST(x * x AS DECIMAL(28,8)), 8)
                AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(ROUND(CAST(x * y AS DECIMAL(28,8)), 8)
                AS DECIMAL(28,8))) AS DOUBLE) AS sxy
    FROM daily
),
ols AS (
    SELECT n, b,
           CAST(ROUND(CAST((sy - b * sx) / n AS DECIMAL(28,8)), 8) AS DOUBLE) AS a
    FROM (SELECT *, CAST(ROUND(CAST(slope AS DECIMAL(28,8)), 8) AS DOUBLE) AS b
          FROM """
    + line_fit_sql("sums")
    + """)
),
b0 AS (SELECT CAST(n AS BIGINT) AS n_days, a AS a_ols, b AS b_ols, a, b FROM ols),"""
    + ",".join(_qr_sql_round(k) for k in range(1, _QR_ROUNDS + 1))
    + f"""
,
final AS (
    SELECT n_days, a_ols, b_ols, a, b,
           CAST(SUM(CAST(ROUND(CAST(ABS(d.y - a - b * d.x) AS DECIMAL(28,8)),
                8) AS DECIMAL(28,8))) AS DOUBLE) AS sae_lad,
           CAST(SUM(CAST(ROUND(CAST(ABS(d.y - a_ols - b_ols * d.x)
                AS DECIMAL(28,8)), 8) AS DECIMAL(28,8))) AS DOUBLE) AS sae_ols
    FROM daily d CROSS JOIN b{_QR_ROUNDS}
    GROUP BY 1, 2, 3, 4, 5
)
SELECT n_days,
       CAST(ROUND(CAST(a AS DECIMAL(28,8)), 4) AS DOUBLE) AS lad_intercept,
       CAST(ROUND(CAST(b AS DECIMAL(28,8)), 6) AS DOUBLE) AS lad_slope,
       CAST(ROUND(CAST(sae_lad / CAST(n_days AS DOUBLE) AS DECIMAL(28,8)), 4)
            AS DOUBLE) AS mae_lad,
       CAST(ROUND(CAST(sae_ols / CAST(n_days AS DOUBLE) AS DECIMAL(28,8)), 4)
            AS DOUBLE) AS mae_ols,
       CAST(ROUND(CAST(sae_lad / CAST(n_days AS DOUBLE) AS DECIMAL(28,8)), 4)
            AS DOUBLE)
       <= CAST(ROUND(CAST(sae_ols / CAST(n_days AS DOUBLE) AS DECIMAL(28,8)), 4)
            AS DOUBLE) AS lad_no_worse
FROM final
"""
)


# ---------------------------------------------------------------------------
# Tukey-Kramer HSD — parametric pairwise post-hoc
# ---------------------------------------------------------------------------


def q_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer honestly-significant-difference on mean
    l_extendedprice across the three return flags — the parametric
    post-hoc that anova_oneway hands off to (dunn_posthoc is the
    rank-based cousin): every pair's studentized range statistic
    q = |mean_i − mean_j| / sqrt((MSE/2)·(1/n_i + 1/n_j)) against the
    asymptotic critical q_{0.05}(k=3, ∞) = 3.314 — documented constant,
    exact for the ~∞ within-group df at any driver SF.

    One grouped power-sum aggregate (exact DECIMAL, the stats_moments
    discipline) produces n/Σx/Σx² per flag; MSE assembles from the same
    sums; the 3-row self-join emits each unordered pair once. Group
    means and MSE snap at 8 dp before the pairwise algebra so both
    engines feed identical doubles. At 100 TB: one map-side-combined
    aggregate, then constant-size algebra on k rows."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(money("l_extendedprice")).cast("double").alias("s"),
        F.sum(money("l_extendedprice") * money("l_extendedprice"))
        .cast("double")
        .alias("ss"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("ss") - F.col("s") * F.col("s") / F.col("n").cast("double"))
        .alias("sse"),
    ).select(
        "nn",
        "k",
        snap_round(
            F.col("sse") / (F.col("nn") - F.col("k")).cast("double"), 8
        ).alias("mse"),
    )
    m = g.select(
        F.col("l_returnflag").alias("flag"),
        F.col("n"),
        snap_round(F.col("s") / F.col("n").cast("double"), 8).alias("mean"),
    )
    a = m.select(
        F.col("flag").alias("flag_a"),
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
    )
    b = m.select(
        F.col("flag").alias("flag_b"),
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("flag_a") < F.col("flag_b"))
        .crossJoin(F.broadcast(tot))
    )
    diff = F.abs(F.col("mean_a") - F.col("mean_b"))
    se = F.sqrt(
        F.col("mse")
        / 2.0
        * (
            1.0 / F.col("n_a").cast("double")
            + 1.0 / F.col("n_b").cast("double")
        )
    )
    q = snap_round(F.when(se > 0, diff / se), 4)
    return pairs.select(
        "flag_a",
        "flag_b",
        snap_round(F.col("mean_a") - F.col("mean_b"), 4).alias("mean_diff"),
        q.alias("q_stat"),
        (q > 3.314).alias("significant"),
    ).orderBy("flag_a", "flag_b")


TUKEY_HSD_SQL = """
WITH g AS (
    SELECT l_returnflag AS flag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS ss
    FROM lineitem GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS nn,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(ROUND(CAST(SUM(ss - s * s / CAST(n AS DOUBLE))
                / CAST(SUM(n) - COUNT(*) AS DOUBLE) AS DECIMAL(28,8)), 8)
                AS DOUBLE) AS mse
    FROM g
),
m AS (
    SELECT flag, n,
           CAST(ROUND(CAST(s / CAST(n AS DOUBLE) AS DECIMAL(28,8)), 8)
                AS DOUBLE) AS mean
    FROM g
)
SELECT a.flag AS flag_a, b.flag AS flag_b,
       CAST(ROUND(CAST(a.mean - b.mean AS DECIMAL(28,8)), 4) AS DOUBLE)
           AS mean_diff,
       CAST(ROUND(CAST(CASE WHEN SQRT(mse / 2.0 * (1.0 / CAST(a.n AS DOUBLE)
                + 1.0 / CAST(b.n AS DOUBLE))) > 0
            THEN ABS(a.mean - b.mean)
                 / SQRT(mse / 2.0 * (1.0 / CAST(a.n AS DOUBLE)
                        + 1.0 / CAST(b.n AS DOUBLE))) END
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS q_stat,
       CAST(ROUND(CAST(CASE WHEN SQRT(mse / 2.0 * (1.0 / CAST(a.n AS DOUBLE)
                + 1.0 / CAST(b.n AS DOUBLE))) > 0
            THEN ABS(a.mean - b.mean)
                 / SQRT(mse / 2.0 * (1.0 / CAST(a.n AS DOUBLE)
                        + 1.0 / CAST(b.n AS DOUBLE))) END
            AS DECIMAL(28,8)), 4) AS DOUBLE) > 3.314 AS significant
FROM m a CROSS JOIN m b CROSS JOIN tot
WHERE a.flag < b.flag
ORDER BY flag_a, flag_b
"""
