"""State-space / sequential time-series filters over the daily revenue
series — the operator family a recursive recurrence defines, previously
un-oracle-checkable, now hash-checked end to end via recursive-CTE DuckDB
oracles (the greedy-allocation technique from plans/candy.py applied to
analytics: the recursion is the ORACLE, the engine runs one tiny pass).

Members:
- ``ses_forecast``        — simple exponential smoothing (alpha = 0.3)
- ``holt_forecast``       — Holt's linear trend (alpha = 0.3, beta = 0.1)
- ``kalman_local_level``  — local-level Kalman filter (fixed q, r)
- ``hmm_regime_filter``   — 2-state HMM forward filter with rational
  (Cauchy-kernel) emissions — no exp()/log() anywhere, because libm
  transcendentals are NOT bit-identical across engines while +,-,*,/ are.
- ``ewma_volatility``     — RiskMetrics EWMA variance of daily returns
  (lambda = 0.94), the GARCH(1,1) special case.

Scale architecture (identical for all five): the 100-TB work is the
map-side-combined ``orders`` aggregate down to one row per calendar day
(exact DECIMAL(18,2) sums — order-independent, so cross-engine identical);
the recurrence then runs over that CALENDAR-BOUNDED series (~2.4k rows at
ANY scale factor) in a single mapInPandas task. Per-entity variants would
``repartition(entity)`` exactly like operators/allocation.allocate_greedy —
the per-key state pattern this module's single-series form specializes.

Cross-engine exactness: every recurrence step is the same textual sequence
of IEEE-double +,-,*,/ in the pandas kernel and the recursive CTE, seeded
from the same exact-decimal daily values, so outputs match BIT-exactly (no
snapping needed — verified by the exact-equality parity suite; planted
behavior in tests/test_r5_ops.py); constants like 0.3 parse to the same
double in both engines.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from candyspark.plans.candy import DAILY_SALES_SQL, daily_sales

#: shared oracle CTE: the exact-decimal daily revenue series with a row
#: number in day order (both engines' doubles derive from the SAME
#: DECIMAL(18,2) sum, the forecast_linear discipline)
_DAILY_RN_SQL = f"""{DAILY_SALES_SQL},
series AS (
    SELECT d, CAST(y AS DOUBLE) AS y,
           CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS rn
    FROM daily
)"""


def _daily_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per calendar day: (d, y) with y an exact-decimal revenue sum
    surfaced as double (unordered — callers sort; see ``_daily_series``)."""
    return daily_sales(spark, sf_dir).select("d", F.col("y").cast("double").alias("y"))


def _day_sorted(df: DataFrame) -> DataFrame:
    """Single day-sorted partition for the sequential kernel — must be the
    LAST step before mapInPandas (a join placed after it can re-order rows;
    observed with broadcast-nested-loop under AQE). Calendar-bounded:
    ~2.4k rows at any SF; the shuffle moves KB."""
    return df.repartition(1).sortWithinPartitions("d")


def _daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _day_sorted(_daily_raw(spark, sf_dir))


def _sequential(df: DataFrame, out_fields: list, kernel_step) -> DataFrame:
    """Run a stateful per-row recurrence over the single-partition series.

    ``kernel_step(state, y) -> (state, extras)`` where ``extras`` is the
    tuple of per-row output values appended after (d, y). State carries
    across Arrow batches (the allocation-kernel contract: rows of the one
    group are contiguous in the sorted partition)."""
    schema = T.StructType(
        [df.schema["d"], T.StructField("y", T.DoubleType())]
        + [T.StructField(n, T.DoubleType()) for n in out_fields]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state = None
        for pdf in batches:
            rows = []
            for y in pdf["y"].tolist():
                state, extras = kernel_step(state, float(y))
                rows.append(extras)
            out = pdf[["d", "y"]].copy()
            for i, n in enumerate(out_fields):
                out[n] = [r[i] for r in rows]
            yield out

    return df.mapInPandas(kernel, schema=schema)


# ---------------------------------------------------------------------------
# simple exponential smoothing
# ---------------------------------------------------------------------------

_SES_ALPHA = 0.3


def q_ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple exponential smoothing over daily revenue: level l_t =
    l_{t-1} + alpha*(y_t - l_{t-1}), seeded l_1 = y_1. Emits, per day, the
    one-step-ahead forecast made YESTERDAY for today (f_t = l_{t-1}), the
    forecast error, and the updated level — i.e. the full walk-forward
    evaluation trace, not just a fitted line (cf. forecast_backtest's OLS
    origins). Sequential by definition -> recursive-CTE oracle."""

    def step(state, y):
        if state is None:
            return y, (y, float("nan"), float("nan"))
        lvl = state
        f = lvl
        e = y - f
        lvl = lvl + _SES_ALPHA * e
        return lvl, (lvl, f, e)

    out = _sequential(_daily_series(spark, sf_dir), ["level", "forecast", "err"], step)
    # day 1 has no prior level: forecast/err are NULL (NaN -> null for
    # cross-engine hashing; DuckDB's recursion anchors them as NULL)
    return out.select(
        "d",
        "y",
        "level",
        F.when(F.isnan("forecast"), None).otherwise(F.col("forecast")).alias("forecast"),
        F.when(F.isnan("err"), None).otherwise(F.col("err")).alias("err"),
    )


SES_FORECAST_SQL = f"""
WITH RECURSIVE {_DAILY_RN_SQL},
walk AS (
    SELECT d, y, rn,
           y AS level,
           CAST(NULL AS DOUBLE) AS forecast,
           CAST(NULL AS DOUBLE) AS err
    FROM series WHERE rn = 1
    UNION ALL
    SELECT s.d, s.y, s.rn,
           w.level + {_SES_ALPHA} * (s.y - w.level),
           w.level,
           s.y - w.level
    FROM series s JOIN walk w ON s.rn = w.rn + 1
)
SELECT d, y, level, forecast, err FROM walk
"""


# ---------------------------------------------------------------------------
# Holt's linear trend
# ---------------------------------------------------------------------------

_HOLT_ALPHA, _HOLT_BETA = 0.3, 0.1


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoothing: l_t = a*y_t + (1-a)*(l+b),
    b_t = g*(l_t - l_{t-1}) + (1-g)*b, seeded (l_1, b_1) = (y_1, 0).
    Emits per-day level, trend, and the pre-update fitted value l+b (the
    one-step-ahead forecast). The h-step forecast is then level + h*trend
    off the last row — the deterministic twin of forecast.py's Holt model,
    here walk-forward and oracle-hashed."""

    def step(state, y):
        if state is None:
            return (y, 0.0), (y, 0.0, float("nan"))
        lvl, b = state
        fitted = lvl + b
        lnew = _HOLT_ALPHA * y + (1.0 - _HOLT_ALPHA) * fitted
        bnew = _HOLT_BETA * (lnew - lvl) + (1.0 - _HOLT_BETA) * b
        return (lnew, bnew), (lnew, bnew, fitted)

    out = _sequential(_daily_series(spark, sf_dir), ["level", "trend", "fitted"], step)
    return out.select(
        "d",
        "y",
        "level",
        "trend",
        F.when(F.isnan("fitted"), None).otherwise(F.col("fitted")).alias("fitted"),
    )


HOLT_FORECAST_SQL = f"""
WITH RECURSIVE {_DAILY_RN_SQL},
walk AS (
    SELECT d, y, rn,
           y AS level,
           CAST(0.0 AS DOUBLE) AS trend,
           CAST(NULL AS DOUBLE) AS fitted
    FROM series WHERE rn = 1
    UNION ALL
    SELECT s.d, s.y, s.rn,
           {_HOLT_ALPHA} * s.y + (1.0 - {_HOLT_ALPHA}) * (w.level + w.trend),
           {_HOLT_BETA} * (({_HOLT_ALPHA} * s.y
                            + (1.0 - {_HOLT_ALPHA}) * (w.level + w.trend))
                           - w.level)
               + (1.0 - {_HOLT_BETA}) * w.trend,
           w.level + w.trend
    FROM series s JOIN walk w ON s.rn = w.rn + 1
)
SELECT d, y, level, trend, fitted FROM walk
"""


# ---------------------------------------------------------------------------
# local-level Kalman filter
# ---------------------------------------------------------------------------

#: observation and process noise variances — fixed literals sized to the
#: daily-revenue scale (sd ~ 1e5 => var ~ 1e10); a production fit would EM
#: these, which is just this filter run a bounded number of times
_KALMAN_R, _KALMAN_Q = 1.0e10, 1.0e9


def q_kalman_local_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-level Kalman filter over daily revenue: predict P+q, gain
    K = P'/(P'+r), update x += K*(y-x). Emits the filtered level, the gain
    (which converges to the steady state — visible in the output), and the
    innovation y - x_pred. Seeded x_1 = y_1, P_1 = r."""

    def step(state, y):
        if state is None:
            return (y, _KALMAN_R), (y, float("nan"), float("nan"))
        x, p = state
        p_pred = p + _KALMAN_Q
        k = p_pred / (p_pred + _KALMAN_R)
        innov = y - x
        x_new = x + k * innov
        p_new = (1.0 - k) * p_pred
        return (x_new, p_new), (x_new, k, innov)

    out = _sequential(
        _daily_series(spark, sf_dir), ["filtered", "gain", "innovation"], step
    )
    return out.select(
        "d",
        "y",
        "filtered",
        F.when(F.isnan("gain"), None).otherwise(F.col("gain")).alias("gain"),
        F.when(F.isnan("innovation"), None)
        .otherwise(F.col("innovation"))
        .alias("innovation"),
    )


KALMAN_LOCAL_LEVEL_SQL = f"""
WITH RECURSIVE {_DAILY_RN_SQL},
walk AS (
    SELECT d, y, rn,
           y AS filtered,
           CAST({_KALMAN_R} AS DOUBLE) AS p,
           CAST(NULL AS DOUBLE) AS gain,
           CAST(NULL AS DOUBLE) AS innovation
    FROM series WHERE rn = 1
    UNION ALL
    SELECT s.d, s.y, s.rn,
           w.filtered + ((w.p + {_KALMAN_Q}) / ((w.p + {_KALMAN_Q}) + {_KALMAN_R}))
                        * (s.y - w.filtered),
           (1.0 - ((w.p + {_KALMAN_Q}) / ((w.p + {_KALMAN_Q}) + {_KALMAN_R})))
               * (w.p + {_KALMAN_Q}),
           (w.p + {_KALMAN_Q}) / ((w.p + {_KALMAN_Q}) + {_KALMAN_R}),
           s.y - w.filtered
    FROM series s JOIN walk w ON s.rn = w.rn + 1
)
SELECT d, y, filtered, gain, innovation FROM walk
"""


# ---------------------------------------------------------------------------
# 2-state HMM forward filter (rational emissions)
# ---------------------------------------------------------------------------

_HMM_STAY = 0.95  # P(stay in regime)


def q_hmm_regime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regime (low/high demand) HMM forward filter over daily revenue,
    emitting the per-day posterior P(high). Emission kernels are RATIONAL
    Cauchy-like densities e_s(y) = 1/(1 + ((y-mu_s)/sigma)^2) — chosen over
    Gaussians deliberately: exp() is a libm call with no cross-engine
    bit-identity guarantee, while +,-,*,/ are IEEE-exact, so the whole
    filter stays hash-checkable. Regime centers mu = 0.8m / 1.2m around the
    2-dp-snapped global daily mean m (snapped so both engines seed from the
    identical double), sigma = m/4, transitions 0.95/0.05 (both written as
    LITERALS in kernel and oracle — 1.0-0.95 computed at runtime differs
    from the literal 0.05 in the last ulp). Normalization per step keeps
    the recursion numerically flat forever — the property that makes this
    run unbounded on a stream."""
    daily = _daily_raw(spark, sf_dir)
    # snapped global mean: exact decimal sum / exact count, rounded at 2dp
    # through decimal -> the identical double in both engines
    m = daily.agg(
        F.round(
            (
                F.sum(F.col("y").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).cast("decimal(28,8)"),
            2,
        )
        .cast("double")
        .alias("m")
    )
    df = _day_sorted(daily.crossJoin(F.broadcast(m)))

    schema = T.StructType(
        [df.schema["d"], T.StructField("y", T.DoubleType()),
         T.StructField("p_high", T.DoubleType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ah = al = 0.5
        first = True
        mu_h = mu_l = sigma = 0.0
        for pdf in batches:
            out_p = []
            ms = pdf["m"].tolist()
            for y, mm in zip(pdf["y"].tolist(), ms):
                y = float(y)
                if first:
                    mm = float(mm)
                    mu_h, mu_l, sigma = 1.2 * mm, 0.8 * mm, mm / 4.0
                    first = False
                zh = (y - mu_h) / sigma
                zl = (y - mu_l) / sigma
                eh = 1.0 / (1.0 + zh * zh)
                el = 1.0 / (1.0 + zl * zl)
                nh = (0.95 * ah + 0.05 * al) * eh
                nl = (0.05 * ah + 0.95 * al) * el
                s = nh + nl
                ah, al = nh / s, nl / s
                out_p.append(ah)
            out = pdf[["d", "y"]].copy()
            out["p_high"] = out_p
            yield out

    return df.mapInPandas(kernel, schema=schema)


HMM_REGIME_FILTER_SQL = f"""
WITH RECURSIVE {_DAILY_RN_SQL},
params AS (
    SELECT CAST(ROUND(CAST(CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE)
               AS DECIMAL(28,8)), 2) AS DOUBLE) AS m
    FROM series
),
walk AS (
    SELECT s.d, s.y, s.rn,
           ((0.95 * 0.5 + 0.05 * 0.5)
            * (1.0 / (1.0 + ((s.y - 1.2 * p.m) / (p.m / 4.0))
                            * ((s.y - 1.2 * p.m) / (p.m / 4.0)))))
           / (((0.95 * 0.5 + 0.05 * 0.5)
               * (1.0 / (1.0 + ((s.y - 1.2 * p.m) / (p.m / 4.0))
                               * ((s.y - 1.2 * p.m) / (p.m / 4.0)))))
              + ((0.05 * 0.5 + 0.95 * 0.5)
                 * (1.0 / (1.0 + ((s.y - 0.8 * p.m) / (p.m / 4.0))
                                 * ((s.y - 0.8 * p.m) / (p.m / 4.0))))))
               AS a_high,
           ((0.05 * 0.5 + 0.95 * 0.5)
            * (1.0 / (1.0 + ((s.y - 0.8 * p.m) / (p.m / 4.0))
                            * ((s.y - 0.8 * p.m) / (p.m / 4.0)))))
           / (((0.95 * 0.5 + 0.05 * 0.5)
               * (1.0 / (1.0 + ((s.y - 1.2 * p.m) / (p.m / 4.0))
                               * ((s.y - 1.2 * p.m) / (p.m / 4.0)))))
              + ((0.05 * 0.5 + 0.95 * 0.5)
                 * (1.0 / (1.0 + ((s.y - 0.8 * p.m) / (p.m / 4.0))
                                 * ((s.y - 0.8 * p.m) / (p.m / 4.0))))))
               AS a_low,
           p.m AS m
    FROM series s CROSS JOIN params p WHERE s.rn = 1
    UNION ALL
    SELECT s.d, s.y, s.rn,
           ((0.95 * w.a_high + 0.05 * w.a_low)
            * (1.0 / (1.0 + ((s.y - 1.2 * w.m) / (w.m / 4.0))
                            * ((s.y - 1.2 * w.m) / (w.m / 4.0)))))
           / (((0.95 * w.a_high + 0.05 * w.a_low)
               * (1.0 / (1.0 + ((s.y - 1.2 * w.m) / (w.m / 4.0))
                               * ((s.y - 1.2 * w.m) / (w.m / 4.0)))))
              + ((0.05 * w.a_high + 0.95 * w.a_low)
                 * (1.0 / (1.0 + ((s.y - 0.8 * w.m) / (w.m / 4.0))
                                 * ((s.y - 0.8 * w.m) / (w.m / 4.0)))))),
           ((0.05 * w.a_high + 0.95 * w.a_low)
            * (1.0 / (1.0 + ((s.y - 0.8 * w.m) / (w.m / 4.0))
                            * ((s.y - 0.8 * w.m) / (w.m / 4.0)))))
           / (((0.95 * w.a_high + 0.05 * w.a_low)
               * (1.0 / (1.0 + ((s.y - 1.2 * w.m) / (w.m / 4.0))
                               * ((s.y - 1.2 * w.m) / (w.m / 4.0)))))
              + ((0.05 * w.a_high + 0.95 * w.a_low)
                 * (1.0 / (1.0 + ((s.y - 0.8 * w.m) / (w.m / 4.0))
                                 * ((s.y - 0.8 * w.m) / (w.m / 4.0)))))),
           w.m
    FROM series s JOIN walk w ON s.rn = w.rn + 1
)
SELECT d, y, a_high AS p_high FROM walk
"""


# ---------------------------------------------------------------------------
# EWMA volatility (RiskMetrics lambda = 0.94)
# ---------------------------------------------------------------------------


def q_ewma_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RiskMetrics EWMA volatility of daily revenue returns: r_t =
    (y_t - y_{t-1})/y_{t-1}, v_t = 0.94 v_{t-1} + 0.06 r_t^2 (v seeded at
    the first return's square). Completes the risk stack around
    max_drawdown: drawdown says how bad it got, this says how nervous the
    series IS right now — and it is the GARCH(1,1) special case every
    risk desk actually runs. sqrt is fine cross-engine (IEEE-correctly
    rounded, unlike exp/log — see the HMM emission note); 0.94/0.06 are
    literals on both sides."""

    def step(state, y):
        if state is None:
            return (y, None), (float("nan"), float("nan"), float("nan"))
        prev_y, v = state
        r = (y - prev_y) / prev_y
        v = r * r if v is None else 0.94 * v + 0.06 * (r * r)
        import math

        return (y, v), (r, v, math.sqrt(v))

    out = _sequential(
        _daily_series(spark, sf_dir), ["ret", "ewma_var", "ewma_vol"], step
    )
    return out.select(
        "d",
        "y",
        *[
            F.when(F.isnan(c), None).otherwise(F.col(c)).alias(c)
            for c in ("ret", "ewma_var", "ewma_vol")
        ],
    )


EWMA_VOLATILITY_SQL = f"""
WITH RECURSIVE {_DAILY_RN_SQL},
walk AS (
    SELECT d, y, rn,
           CAST(NULL AS DOUBLE) AS ret,
           CAST(NULL AS DOUBLE) AS ewma_var
    FROM series WHERE rn = 1
    UNION ALL
    SELECT s.d, s.y, s.rn,
           (s.y - w.y) / w.y,
           CASE WHEN w.ewma_var IS NULL
                THEN ((s.y - w.y) / w.y) * ((s.y - w.y) / w.y)
                ELSE 0.94 * w.ewma_var
                     + 0.06 * (((s.y - w.y) / w.y) * ((s.y - w.y) / w.y))
           END
    FROM series s JOIN walk w ON s.rn = w.rn + 1
)
SELECT d, y, ret, ewma_var, SQRT(ewma_var) AS ewma_vol FROM walk
"""
