"""Engine operators label their eager jobs without erasing the caller's
job description — callers (tracers, the bench) attribute jobs by it."""

from __future__ import annotations

import pytest

from candyspark.operators.quantiles import exact_quantiles_rows
from candyspark.plans.outliers import _grouped_median_mad
from candyspark.session import job_description


def test_quantile_operators_keep_the_callers_description(spark):
    sc = spark.sparkContext
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("a", 8.0), ("b", 2.0), ("b", 5.0)],
        "g string, v double",
    )
    sc.setJobDescription("caller: pass 1")
    try:
        assert exact_quantiles_rows(spark, df, "v", [0.5]) == [(0.5, 3.0)]
        assert sc.getLocalProperty("spark.job.description") == "caller: pass 1"
        assert _grouped_median_mad(spark, df, "g", "v").count() == 2
        assert sc.getLocalProperty("spark.job.description") == "caller: pass 1"
    finally:
        sc.setLocalProperty("spark.job.description", None)


def test_job_description_restores_on_error(spark):
    sc = spark.sparkContext
    sc.setJobDescription("outer")
    try:
        with pytest.raises(RuntimeError):
            with job_description(spark, "inner"):
                assert sc.getLocalProperty("spark.job.description") == "inner"
                raise RuntimeError
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.job.description", None)
