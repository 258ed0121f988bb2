"""Time-series forecasting operator (SURVEY.md §2.12, M4).

The reference wraps Prophet (/root/reference/src/time_series.py:7-67) with a
reproducibility bug: the fit is anchored at ``pd.Timestamp.today()`` (:21),
not the data's dates, so weekday seasonality — and the golden forecast value
— depends on the day the author ran it (its own CI excludes the forecast from
value comparison). This rebuild:

- anchors fits at the series' TRUE dates;
- defaults to a deterministic linear-trend (ordinary least squares) model so
  tests can pin values; Prophet is used when importable (it is not in this
  environment) behind the same interface;
- keeps the single-series fit driver-side (N≈10 points — SURVEY.md §1.4) but
  exposes ``forecast_many`` as a ``groupBy(key).applyInPandas`` grouped-map
  for many-series workloads (the 100-TB-scale path: one fit per group,
  distributed).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T

try:  # pragma: no cover - optional dependency
    from prophet import Prophet  # type: ignore

    HAVE_PROPHET = True
except Exception:  # pragma: no cover
    HAVE_PROPHET = False


def _linear(
    dates: pd.Series, values: np.ndarray, horizon: int
) -> tuple[np.ndarray, np.ndarray]:
    """OLS linear trend over the position index: the deterministic default
    (and test anchor). A 0- or 1-point series predicts itself and
    continues flat (0 for an empty one)."""
    n = len(values)
    if n < 2:
        return values.copy(), np.full(horizon, values[0] if n else 0.0)
    x = np.arange(n + horizon, dtype=float)
    slope, intercept = np.polyfit(x[:n], values, 1)
    fit = intercept + slope * x
    return fit[:n], fit[n:]


def _seasonal(
    dates: pd.Series, values: np.ndarray, horizon: int
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic day-of-week seasonal model — the weekday seasonality
    that is the reference's entire Prophet rationale
    (reference src/time_series.py:21), without Prophet's run-date
    anchoring bug: an OLS linear trend on the CALENDAR day index
    (gap-aware) plus each weekday's mean residual as an additive offset.
    Weekdays never observed get offset 0 (pure trend)."""
    n = len(values)
    if n == 0:
        return values.copy(), np.zeros(horizon)
    d = pd.DatetimeIndex(pd.to_datetime(pd.Series(dates).reset_index(drop=True)))
    days = d.append(d[-1] + pd.to_timedelta(np.arange(1, horizon + 1), unit="D"))
    x = (days - d[0]).days.to_numpy(dtype=float)
    dow = days.dayofweek.to_numpy()
    if n == 1:
        slope, intercept = 0.0, values[0]
    else:
        slope, intercept = np.polyfit(x[:n], values, 1)
    resid = values - (intercept + slope * x[:n])
    offsets = np.zeros(7)
    for w in range(7):
        mask = dow[:n] == w
        if mask.any():
            offsets[w] = resid[mask].mean()
    fit = intercept + slope * x + offsets[dow]
    return fit[:n], fit[n:]


#: Holt smoothing weights of the level (a) and the trend (b)
HOLT_ALPHA, HOLT_BETA = 0.5, 0.3


def _holt_fit(values: np.ndarray) -> tuple[float, float, np.ndarray]:
    """Holt's linear-trend (double exponential) smoothing, with
    a = HOLT_ALPHA and b = HOLT_BETA:

        l_t = a*y_t + (1-a)*(l_{t-1} + b_{t-1})
        b_t = b*(l_t - l_{t-1}) + (1-b)*b_{t-1}

    Returns (final level, final trend, in-sample one-step-ahead
    predictions yhat_t = l_{t-1} + b_{t-1}, with yhat_0 = y_0). The
    recurrence is inherently sequential (each state feeds the next), so
    like the greedy allocator it runs as a per-series kernel — driver-side
    for the single daily series, inside forecast_many's applyInPandas for
    millions of series. Initialization: l_0 = y_0, b_0 = y_1 - y_0
    (0 for a 1-point series) — the standard textbook start, deterministic.
    """
    values = np.asarray(values, dtype=float)
    n = len(values)
    if n == 0:
        return 0.0, 0.0, values.copy()
    level = values[0]
    trend = values[1] - values[0] if n > 1 else 0.0
    preds = np.empty(n)
    preds[0] = values[0]
    for t in range(1, n):
        preds[t] = level + trend
        prev_level = level
        level = HOLT_ALPHA * values[t] + (1.0 - HOLT_ALPHA) * (level + trend)
        trend = HOLT_BETA * (level - prev_level) + (1.0 - HOLT_BETA) * trend
    return float(level), float(trend), preds


def _holt(
    dates: pd.Series, values: np.ndarray, horizon: int
) -> tuple[np.ndarray, np.ndarray]:
    level, trend, preds = _holt_fit(values)
    return preds, level + trend * np.arange(1, horizon + 1, dtype=float)


def _prophet(
    dates: pd.Series, values: np.ndarray, horizon: int
) -> tuple[np.ndarray, np.ndarray]:  # pragma: no cover - prophet is optional
    model = Prophet()
    # Anchored at the TRUE dates (fixing reference src/time_series.py:21).
    ds = pd.to_datetime(dates)
    model.fit(pd.DataFrame({"ds": ds, "y": values}))
    future = model.make_future_dataframe(periods=horizon, include_history=False)
    yhat = model.predict(pd.DataFrame({"ds": [*ds, *future["ds"]]}))["yhat"].to_numpy()
    return yhat[: len(values)], yhat[len(values) :]


#: Each method is one fit returning (predictions at the series' own
#: positions, predictions at the next ``horizon`` days).
_METHODS = {
    "linear": _linear,
    "seasonal": _seasonal,
    "holt": _holt,
    "prophet": _prophet,
}


def _fit(
    dates: pd.Series, values: np.ndarray, horizon: int, method: str
) -> tuple[str, np.ndarray, np.ndarray]:
    """Resolve ``method`` ('auto' = prophet when importable, else linear)
    and fit it: (model name, in-sample predictions, forecast). Unknown
    methods raise — a silent fallback would hand a user wrong-model output."""
    if method == "auto":
        method = "prophet" if HAVE_PROPHET else "linear"
    if method not in _METHODS:
        raise ValueError(
            f"unknown forecast method {method!r}: use linear|seasonal|holt|prophet|auto"
        )
    if method == "prophet" and not HAVE_PROPHET:
        raise ImportError(
            "method='prophet' requires the prophet package (not installed); "
            "use 'seasonal' for the same weekday-seasonality-plus-trend shape"
        )
    return method, *_METHODS[method](dates, np.asarray(values, dtype=float), horizon)


def forecast_series(
    dates: pd.Series, values: np.ndarray, horizon: int, method: str = "auto"
) -> np.ndarray:
    """Forecast the next ``horizon`` days with 'linear' | 'seasonal' |
    'holt' | 'prophet' | 'auto' (prophet when importable, else linear)."""
    return _fit(dates, values, horizon, method)[2]


def _daily_series(daily_summary: DataFrame) -> pd.DataFrame:
    """The daily series on the driver, in date order. The sort is a pandas
    one: a Spark orderBy would add a range-partitioner sampling job that
    re-executes the upstream plan, for a handful of rows."""
    return (
        daily_summary.select("date", "total_sales", "total_profit")
        .toPandas()
        .sort_values("date", ignore_index=True)
    )


_FORECAST_SCHEMA = T.StructType(
    [
        T.StructField("date", T.DateType()),
        T.StructField("forecasted_sales", T.DoubleType()),
        T.StructField("forecasted_profit", T.DoubleType()),
    ]
)


def forecast_sales_and_profits(
    daily_summary: DataFrame, horizon: int = 1, method: str = "auto"
) -> DataFrame:
    """Reference ``forecast_sales_and_profits`` analogue
    (/root/reference/src/data_processor.py:616-642,702-767): forecast the
    next ``horizon`` days of total_sales / total_profit from the daily
    summary. Collects the tiny series driver-side (one row per day), then
    re-creates a DataFrame from Arrow (S9). An empty series forecasts no
    rows."""
    pdf = _daily_series(daily_summary)
    cols = {f.name: [] for f in _FORECAST_SCHEMA.fields}
    if not pdf.empty:
        last = pd.to_datetime(pdf["date"].iloc[-1])
        cols["date"] = [(last + pd.Timedelta(days=i + 1)).date() for i in range(horizon)]
        for col in ("sales", "profit"):
            preds = forecast_series(pdf["date"], pdf[f"total_{col}"].to_numpy(), horizon, method)
            cols[f"forecasted_{col}"] = [round(float(v), 2) for v in preds]
    # From an Arrow table the frame is a LocalTableScan, empty or not; a
    # Python list (or an empty pandas frame) plans a Scan ExistingRDD, whose
    # every read starts Python-worker tasks.
    return daily_summary.sparkSession.createDataFrame(pa.table(cols), _FORECAST_SCHEMA)


#: days ``forecast_many`` forecasts past each series' last date
MANY_HORIZON = 2


def forecast_many(
    df: DataFrame, key_cols: list[str], date_col: str, value_col: str
) -> DataFrame:
    """Many-series variant: one linear-trend forecast of the next
    ``MANY_HORIZON`` days per key group via applyInPandas — the distributed
    path when there are millions of series (per-product, per-region, ...).
    Each group's history must fit one task (time series are short relative
    to cluster memory)."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    out_schema = T.StructType(
        [T.StructField(k, fields[k]) for k in key_cols]
        + [
            T.StructField("date", T.DateType()),
            T.StructField("forecast", T.DoubleType()),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(date_col)
        values = pdf[value_col].to_numpy(dtype=float)
        preds = forecast_series(pdf[date_col], values, MANY_HORIZON, "linear")
        last = pd.to_datetime(pdf[date_col].iloc[-1])
        out = pd.DataFrame(
            {
                "date": [(last + pd.Timedelta(days=i + 1)).date() for i in range(MANY_HORIZON)],
                "forecast": np.round(preds, 2),
            }
        )
        for k in key_cols:
            out[k] = pdf[k].iloc[0]
        return out[key_cols + ["date", "forecast"]]

    return df.groupBy(*key_cols).applyInPandas(kernel, schema=out_schema)


def forecast_metrics(
    daily_summary: DataFrame, method: str = "auto"
) -> dict[str, dict[str, float]]:
    """In-sample fit-quality metrics, the reference ``get_metrics`` analogue
    (/root/reference/src/time_series.py:45-67): unrounded MAE and MSE of the
    fitted model's training-period predictions, one dict per forecast series
    (total_sales, total_profit). The reference prints and returns
    {"mae", "mse", "model_type"}; this returns the same keys per series."""
    pdf = _daily_series(daily_summary)
    out: dict[str, dict[str, float]] = {}
    for series in ("total_sales", "total_profit"):
        y = pdf[series].to_numpy(dtype=float)
        model_type, yhat, _ = _fit(pdf["date"], y, 0, method)
        out[series] = {
            "mae": float(np.abs(y - yhat).mean()),
            "mse": float(((y - yhat) ** 2).mean()),
            "model_type": model_type,
        }
    return out
