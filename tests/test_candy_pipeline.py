"""The candy batch pipeline end to end on generated inputs.

The inputs come from the seeded generator in ``perfbench/candygen.py`` and
the expected outputs from the pure-Python reference in
``perfbench/candyref.py``, so the pipeline is checked without the reference
dataset. The fixture runs the pipeline once per module; the tests then pin
the five CSVs, the executed plans of the four outputs and the labels of the
sink jobs.
"""

from __future__ import annotations

import importlib.util
import uuid
from pathlib import Path

import pytest

from candyspark.forecast import forecast_sales_and_profits
from candyspark.pipeline import run_pipeline, save_outputs
from candyspark.sources.sinks import save_single_csv

PERFBENCH = Path(__file__).resolve().parents[1] / "perfbench"
ORDERS_PER_DAY = 60  # 600 orders over the ten days: small, still exhausts stock


def _load(name: str):
    spec = importlib.util.spec_from_file_location(f"_candy_{name}", PERFBENCH / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


candygen = _load("candygen")
candyref = _load("candyref")


@pytest.fixture(scope="module")
def candy_run(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("candy")
    data, out = str(root / "in"), str(root / "out")
    candygen.generate(data, seed=5, orders_per_day=ORDERS_PER_DAY)
    outputs = run_pipeline(spark, data)

    sc = spark.sparkContext
    group = f"candy-sinks-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "candy pipeline sinks")
    try:
        save_outputs(outputs, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    fc = forecast_sales_and_profits(outputs.daily_summary, horizon=1, method="auto")
    save_single_csv(fc, out, "sales_profit_forecast.csv")
    return {"data": data, "out": out, "outputs": outputs, "group": group}


def test_outputs_match_reference(candy_run):
    expected = candyref.reference(candy_run["data"])
    assert candyref.check_outputs(candy_run["out"], expected) == []


def test_outputs_read_the_checkpointed_upstream(candy_run):
    """The line items and the allocation are materialized once: no output
    re-runs the Python allocator or rescans the JSON files."""
    outputs = candy_run["outputs"]
    for name in ("orders", "order_line_items", "products_updated", "daily_summary"):
        plan = getattr(outputs, name)._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan, name
        assert "Scan json" not in plan, name


def test_sink_jobs_carry_the_callers_job_group(candy_run, spark):
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(candy_run["group"])
    assert len(jobs) >= 4
