"""Forecasting operator tests: deterministic linear fallback values, schema,
and the distributed many-series variant."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from candyspark.forecast import (
    _linear,
    forecast_many,
    forecast_sales_and_profits,
)


def test_linear_forecast_exact_trend():
    # y = 2x + 1 → next points continue the line exactly.
    vals = np.array([1.0, 3.0, 5.0, 7.0])
    np.testing.assert_allclose(_linear(None, vals, 2)[1], [9.0, 11.0], atol=1e-9)


def test_linear_forecast_degenerate():
    assert list(_linear(None, np.array([5.0]), 3)[1]) == [5.0, 5.0, 5.0]
    assert list(_linear(None, np.array([]), 2)[1]) == [0.0, 0.0]


def test_forecast_sales_and_profits(spark):
    # reverse date order: the forecaster must sort the series itself
    rows = [
        (dt.date(2024, 2, d), 100.0 + 10 * d, 50.0 + 5 * d) for d in range(10, 0, -1)
    ]
    daily = spark.createDataFrame(rows, "date date, total_sales double, total_profit double")
    out = forecast_sales_and_profits(daily, horizon=1, method="linear").toPandas()
    assert len(out) == 1
    assert out.date.iloc[0] == dt.date(2024, 2, 11)
    assert abs(out.forecasted_sales.iloc[0] - 210.0) < 1e-6
    assert abs(out.forecasted_profit.iloc[0] - 105.0) < 1e-6


def test_forecast_sales_and_profits_empty_series(spark):
    # e.g. transaction files that hold only []: no days, so no forecast rows
    daily = spark.createDataFrame([], "date date, total_sales double, total_profit double")
    out = forecast_sales_and_profits(daily, horizon=2, method="linear")
    assert out.schema.simpleString() == (
        "struct<date:date,forecasted_sales:double,forecasted_profit:double>"
    )
    assert out.count() == 0


def test_forecast_many(spark):
    rows = [
        (pid, dt.date(2024, 2, d), float(pid * 10 + d)) for pid in (1, 2) for d in range(1, 6)
    ]
    df = spark.createDataFrame(rows, "pid int, date date, value double")
    out = (
        forecast_many(df, ["pid"], "date", "value")
        .toPandas()
        .sort_values(["pid", "date"])
        .reset_index(drop=True)
    )
    assert len(out) == 4
    # per-group linear trend is slope 1 → next values continue.
    assert abs(out[out.pid == 1].forecast.iloc[0] - 16.0) < 1e-6
    assert abs(out[out.pid == 2].forecast.iloc[1] - 27.0) < 1e-6
    assert out.date.min() == dt.date(2024, 2, 6)


def test_forecast_linear_query_matches_numpy_ols(spark):
    """The closed-form decimal-sum OLS (plans/candy.q_forecast_linear) and the
    numpy polyfit path (forecast._linear) are the same model — the
    distributed scalar-agg form must agree with the driver-side fit."""
    import numpy as np
    import pandas as pd

    from candyspark.forecast import _linear
    from candyspark.plans.candy import q_forecast_linear
    from candyspark.sources.readers import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = q_forecast_linear(spark, sf).toPandas()
    daily = (
        load_table(spark, sf, "orders")
        .groupBy("o_orderdate")
        .agg(F.sum("o_totalprice").alias("y"))
        .orderBy("o_orderdate")
        .toPandas()
    )
    # polyfit uses x = 0..n-1; the query uses epoch days. The testdata date
    # grid has gaps, so compare via the query's own x basis: refit with
    # numpy on epoch-day x to isolate engine arithmetic from basis choice.
    x = pd.to_datetime(daily.o_orderdate).map(lambda d: d.toordinal() - 719163).to_numpy(float)
    y = daily.y.to_numpy(float)
    slope, intercept = np.polyfit(x, y, 1)
    want = intercept + slope * (x.max() + 1)
    assert abs(got.forecast_revenue.iloc[0] - round(want, 2)) < 0.05
    assert _linear(None, y, 1)[1].shape == (1,)


def test_seasonal_forecast_recovers_weekday_pattern():
    """Pure trend + weekday offset data: the seasonal model must forecast
    the next days exactly (trend continues, each future day gets its own
    weekday's offset), where the linear model alone is off by the offset."""
    from candyspark.forecast import _seasonal, forecast_series

    start = dt.date(2024, 1, 1)  # a Monday
    dates = [start + dt.timedelta(days=i) for i in range(14)]
    # Thursday-only bump: over two full weeks its covariance with the day
    # index is exactly 0 (positions w and w+7 around the mean 6.5 cancel at
    # w=3), so OLS recovers the true slope and the per-weekday residual
    # means reconstruct the generator exactly.
    offs = {3: 40.0}
    vals = np.array(
        [100.0 + 2.0 * i + offs.get(d.weekday(), 0.0) for i, d in enumerate(dates)]
    )
    got = _seasonal(pd_series(dates), vals, 7)[1]
    want = np.array(
        [
            100.0 + 2.0 * (14 + i) + offs.get((start + dt.timedelta(days=14 + i)).weekday(), 0.0)
            for i in range(7)
        ]
    )
    # OLS on seasonal data keeps the slope but shifts intercept slightly;
    # trend+offset decomposition reconstructs the exact generator here
    # because the offsets are constant per weekday and the trend is linear
    # over full weeks of data.
    np.testing.assert_allclose(got, want, atol=1e-6)
    # dispatcher: 'seasonal' routes to the seasonal kernel
    via_dispatch = forecast_series(pd_series(dates), vals, 7, method="seasonal")
    np.testing.assert_allclose(via_dispatch, got, atol=0)
    # and beats plain linear on the weekend days
    linear = forecast_series(pd_series(dates), vals, 7, method="linear")
    assert np.abs(linear - want).max() > 10 * np.abs(got - want).max() + 1


def test_forecast_series_rejects_unknown_method():
    import pytest

    from candyspark.forecast import forecast_series

    with pytest.raises(ValueError, match="unknown forecast method"):
        forecast_series(pd_series([dt.date(2024, 1, 1)]), np.array([1.0]), 1, "bogus")


def test_forecast_metrics_linear_and_seasonal(spark):
    """get_metrics parity (/root/reference/src/time_series.py:45-67): MAE/MSE
    of in-sample predictions, unrounded. On weekday-seasonal data the
    seasonal model's in-sample error must be far below the linear one."""
    from candyspark.forecast import forecast_metrics

    rows = []
    start = dt.date(2024, 1, 1)
    for i in range(14):
        d = start + dt.timedelta(days=i)
        bump = 40.0 if d.weekday() == 3 else 0.0
        rows.append((d, 100.0 + 2.0 * i + bump, 50.0 + 1.0 * i + bump / 2))
    daily = spark.createDataFrame(
        rows, "date date, total_sales double, total_profit double"
    )
    lin = forecast_metrics(daily, method="linear")
    sea = forecast_metrics(daily, method="seasonal")
    for series in ("total_sales", "total_profit"):
        assert set(lin[series]) == {"mae", "mse", "model_type"}
        assert lin[series]["model_type"] == "linear"
        assert sea[series]["model_type"] == "seasonal"
        assert sea[series]["mae"] < 1e-6  # exact decomposition on this data
        assert lin[series]["mae"] > 2.0


def pd_series(dates):
    import pandas as pd

    return pd.Series(dates)


def test_holt_exact_on_linear_series():
    """On exactly linear data with b_0 = y_1 - y_0 the Holt recurrence is
    exact at every step (l_t = y_t, b_t = slope), so the forecast continues
    the line — the analytic fixed point, independent of alpha/beta."""
    from candyspark.forecast import _holt, _holt_fit

    vals = np.array([1.0, 3.0, 5.0, 7.0, 9.0])
    level, trend, preds = _holt_fit(vals)
    assert level == pytest.approx(9.0, abs=1e-12)
    assert trend == pytest.approx(2.0, abs=1e-12)
    np.testing.assert_allclose(preds, vals, atol=1e-12)
    np.testing.assert_allclose(_holt(None, vals, 3)[1], [11.0, 13.0, 15.0], atol=1e-12)


def test_holt_matches_independent_recurrence():
    from candyspark.forecast import _holt_fit

    rng = np.random.default_rng(3)
    y = np.cumsum(rng.normal(1.0, 2.0, size=40)) + 10
    a, b = 0.5, 0.3
    lvl, tr = y[0], y[1] - y[0]
    want_preds = [y[0]]
    for t in range(1, len(y)):
        want_preds.append(lvl + tr)
        new_lvl = a * y[t] + (1 - a) * (lvl + tr)
        tr = b * (new_lvl - lvl) + (1 - b) * tr
        lvl = new_lvl
    level, trend, preds = _holt_fit(y)
    assert level == pytest.approx(lvl, abs=1e-12)
    assert trend == pytest.approx(tr, abs=1e-12)
    np.testing.assert_allclose(preds, want_preds, atol=1e-12)


def test_holt_degenerate_and_dispatch():
    from candyspark.forecast import _holt, forecast_series

    assert list(_holt(None, np.array([]), 2)[1]) == [0.0, 0.0]
    np.testing.assert_allclose(_holt(None, np.array([4.0]), 2)[1], [4.0, 4.0])
    import pandas as pd

    dates = pd.Series(pd.date_range("2024-02-01", periods=4))
    out = forecast_series(dates, np.array([1.0, 3.0, 5.0, 7.0]), 2, method="holt")
    np.testing.assert_allclose(out, [9.0, 11.0], atol=1e-12)


def test_forecast_metrics_holt(spark):
    import datetime as dt

    from candyspark.forecast import forecast_metrics

    rows = [
        (dt.date(2024, 2, d), 100.0 + 10 * d, 50.0 + 5 * d) for d in range(1, 11)
    ]
    daily = spark.createDataFrame(
        rows, "date date, total_sales double, total_profit double"
    )
    m = forecast_metrics(daily, method="holt")
    # linear series → Holt in-sample predictions are exact → zero error
    assert m["total_sales"]["mae"] == pytest.approx(0.0, abs=1e-9)
    assert m["total_sales"]["model_type"] == "holt"


# --- round 6 (verdict item 5): pin the Prophet branch against rot ----------


class _FakeProphet:
    """Minimal Prophet double: records the fit frame and future-frame calls
    so the date-anchoring contract (fit on the TRUE dates — the fix for
    reference src/time_series.py:21's run-date anchoring bug) is asserted
    without the real dependency."""

    last: "_FakeProphet | None" = None

    def __init__(self):
        _FakeProphet.last = self
        self.fit_df = None
        self.future_args = None

    def fit(self, df):
        self.fit_df = df.copy()
        return self

    def make_future_dataframe(self, periods, include_history):
        self.future_args = {"periods": periods, "include_history": include_history}
        last = self.fit_df["ds"].max()
        import pandas as _pd

        ds = [last + _pd.Timedelta(days=i + 1) for i in range(periods)]
        if include_history:
            ds = list(self.fit_df["ds"]) + ds
        return _pd.DataFrame({"ds": ds})

    def predict(self, future):
        # deterministic: yhat = day-offset from the fit's first date
        base = self.fit_df["ds"].min()
        return pd.DataFrame(
            {"yhat": [(d - base).days * 1.0 for d in future["ds"]]}
        )


def test_prophet_branch_is_date_anchored(monkeypatch):
    import candyspark.forecast as fc

    monkeypatch.setattr(fc, "Prophet", _FakeProphet, raising=False)
    monkeypatch.setattr(fc, "HAVE_PROPHET", True)
    dates = pd.Series(pd.to_datetime(["2024-03-01", "2024-03-02", "2024-03-04"]))
    values = np.array([10.0, 12.0, 11.0])

    out = fc.forecast_series(dates, values, horizon=2, method="prophet")
    m = _FakeProphet.last
    # fit anchored at the TRUE dates, not the run date
    assert list(m.fit_df["ds"]) == list(dates)
    assert list(m.fit_df["y"]) == list(values)
    # forecast frame: exactly `horizon` future days, history excluded
    assert m.future_args == {"periods": 2, "include_history": False}
    # fake yhat = days since 2024-03-01 → future days 4 and 5
    assert list(out) == [4.0, 5.0]

    # in-sample path predicts back over the TRAINING ds (metrics contract)
    yhat = fc._fit(dates, values, 0, "prophet")[1]
    assert list(yhat) == [0.0, 1.0, 3.0]
    # 'auto' routes to prophet when importable
    assert list(fc.forecast_series(dates, values, 1, method="auto")) == [4.0]


def test_prophet_missing_raises_clear_error(monkeypatch):
    import candyspark.forecast as fc

    monkeypatch.setattr(fc, "HAVE_PROPHET", False)
    dates = pd.Series(pd.to_datetime(["2024-03-01", "2024-03-02"]))
    with pytest.raises(ImportError, match="prophet"):
        fc.forecast_series(dates, np.array([1.0, 2.0]), 1, method="prophet")
    with pytest.raises(ImportError, match="prophet"):
        fc._fit(dates, np.array([1.0, 2.0]), 0, "prophet")


@pytest.mark.skipif(
    not __import__("candyspark.forecast", fromlist=["HAVE_PROPHET"]).HAVE_PROPHET,
    reason="prophet not installed in this environment",
)
def test_prophet_real_path_runs():
    import candyspark.forecast as fc

    dates = pd.Series(pd.date_range("2024-01-01", periods=30))
    values = np.arange(30, dtype=float) + 5.0
    out = fc.forecast_series(dates, values, horizon=3, method="prophet")
    assert len(out) == 3 and np.isfinite(out).all()
