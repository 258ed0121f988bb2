"""The candy batch pipeline end to end on generated inputs.

The inputs come from the seeded generator in ``perfbench/candygen.py`` and
the expected outputs from the pure-Python reference in
``perfbench/candyref.py``, so the pipeline is checked without the reference
dataset. The fixture runs the pipeline once per module; the tests then pin
the five CSVs, the executed plans of the outputs, the jobs one pass
launches and the labels of the sink jobs. Two hand-built inputs pin the
edge cases: transaction files that hold only ``[]``, and one transaction
delivered twice under different headers. One test runs the CLI,
``python -m candyspark``, in a subprocess.
"""

from __future__ import annotations

import csv
import glob
import importlib.util
import json
import os
import re
import subprocess
import sys
import uuid
from pathlib import Path

import pytest

from candyspark.forecast import forecast_sales_and_profits
from candyspark.pipeline import run_pipeline, save_outputs
from candyspark.sources.sinks import save_single_csv

ROOT = Path(__file__).resolve().parents[1]
PERFBENCH = ROOT / "perfbench"
ORDERS_PER_DAY = 60  # 600 orders over the ten days: small, still exhausts stock


def _load(name: str):
    spec = importlib.util.spec_from_file_location(f"_candy_{name}", PERFBENCH / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


candygen = _load("candygen")
candyref = _load("candyref")


def _run_pass(spark, data: str, out: str, sink_group: str | None = None):
    """One pass of ``python -m candyspark``: stages, the four sinks, the
    forecast and its CSV. ``sink_group`` is the job group of the sinks."""
    outputs, _obs = run_pipeline(spark, data)
    sc = spark.sparkContext
    if sink_group is not None:
        sc.setJobGroup(sink_group, "candy pipeline sinks")
    try:
        save_outputs(outputs, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    fc = forecast_sales_and_profits(outputs.daily_summary, horizon=1, method="auto")
    save_single_csv(fc, out, "sales_profit_forecast.csv")
    return outputs, fc


def _read(out: str, name: str) -> list[list[str]]:
    with open(f"{out}/{name}", newline="") as f:
        return list(csv.reader(f))


@pytest.fixture(scope="module")
def candy_run(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("candy")
    data, out = str(root / "in"), str(root / "out")
    candygen.generate(data, seed=5, orders_per_day=ORDERS_PER_DAY)
    sc = spark.sparkContext
    group, tag = f"candy-sinks-{uuid.uuid4().hex}", f"candy-pass-{uuid.uuid4().hex}"
    sc.addJobTag(tag)  # tags ride every job of the pass, the sinks' threads too
    try:
        outputs, fc = _run_pass(spark, data, out, sink_group=group)
    finally:
        sc.removeJobTag(tag)
    jobs = list(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
    return {"data": data, "out": out, "outputs": outputs, "forecast": fc,
            "group": group, "pass_jobs": jobs}


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


def test_daily_summary_is_materialized_once(candy_run):
    """The daily CSV sink and the forecast read the checkpointed rows: the
    daily series re-runs no aggregate and no shuffle."""
    plan = candy_run["outputs"].daily_summary._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_forecast_frame_is_a_local_table_scan(candy_run):
    """Built from Arrow, the one-row forecast needs no Python-worker task."""
    plan = candy_run["forecast"]._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_one_pass_launches_few_jobs(candy_run):
    # a pass launches 16 jobs; a separate line-item checkpoint and an eager
    # daily checkpoint before the sinks were 20, and re-running the finalize
    # lineage per consumer (a header distinct and joins for orders, daily CSV
    # and forecast) was ~40
    assert 0 < len(candy_run["pass_jobs"]) <= 18


def _shuffle_map_stages(spark, tag: str) -> int:
    """Stages of the jobs tagged ``tag`` that ran and wrote shuffle output."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store lags the jobs
    store = jsc.statusStore()
    stages = {
        s
        for j in jsc.statusTracker().getJobIdsForTag(tag)
        for s in sc.statusTracker().getJobInfo(j).stageIds
    }
    ran = [store.lastStageAttempt(s) for s in stages]
    return sum(st.status().toString() == "COMPLETE" and st.shuffleWriteRecords() > 0 for st in ran)


@pytest.mark.parametrize("read_metrics", [False, True], ids=["run_pipeline", "run_pipeline_observed"])
def test_one_shuffle_from_the_json_scan_to_the_allocator(candy_run, spark, read_metrics):
    """Building the outputs runs the JSON scan, the dedupe and the allocator
    as one checkpointed plan: one shuffle map stage (on product_id), with
    ``observe()`` on the line items. Reading the line-item metrics after
    the build adds no stage: they rode the checkpoint's job. The per-order
    aggregate reads ``cost_to_make`` off the allocation, not off a second
    products scan."""
    sc = spark.sparkContext
    tag = f"candy-build-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        outputs, obs = run_pipeline(spark, candy_run["data"])
        if read_metrics:
            n_line_items = obs["line_items"].get["n_line_items"]
    finally:
        sc.removeJobTag(tag)
    assert _shuffle_map_stages(spark, tag) == 1
    if read_metrics:
        expected = candyref.reference(candy_run["data"])
        assert n_line_items == len(expected["order_line_items.csv"])
    assert "Scan csv" not in outputs.orders._jdf.queryExecution().executedPlan().toString()


def test_cli_observe_matches_reference(candy_run, tmp_path):
    """``python -m candyspark`` end to end: the five CSVs match the
    reference and the printed line-item count is the deduplicated one."""
    out = tmp_path / "out"
    env = {**os.environ, "PYTHONPATH": str(ROOT), "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-m", "candyspark",
         "--data-dir", candy_run["data"], "--output-dir", str(out)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    expected = candyref.reference(candy_run["data"])
    assert candyref.check_outputs(str(out), expected) == []
    n_line_items = re.search(r"\[metrics\] line_items: .*'n_line_items': (\d+)", proc.stdout)
    assert n_line_items is not None, proc.stdout
    assert int(n_line_items.group(1)) == len(expected["order_line_items.csv"])


def test_empty_transactions_give_header_only_outputs(spark, tmp_path):
    """Transaction files that hold only ``[]``: no orders, no line items, no
    days and no forecast, and every product keeps its stock."""
    data, out = str(tmp_path / "in"), str(tmp_path / "out")
    candygen.generate(data, seed=3, orders_per_day=1)
    for path in glob.glob(f"{data}/transactions_*.json"):
        with open(path, "w") as f:
            f.write("[]")
    _run_pass(spark, data, out)

    for name, header in candyref.HEADERS.items():
        if name != "products_updated.csv":
            assert _read(out, name) == [header], name
    products = _read(data, "products.csv")
    pid, pname, stock = (products[0].index(c) for c in ("product_id", "product_name", "stock"))
    assert _read(out, "products_updated.csv") == [candyref.HEADERS["products_updated.csv"]] + [
        [r[pid], r[pname], r[stock]] for r in products[1:]
    ]
    assert _read(out, candyref.FORECAST) == [candyref.FORECAST_HEADER]


def test_duplicate_header_lines_count_under_their_own_header(spark, tmp_path):
    """A transaction_id delivered twice with different timestamps and
    customers is two orders rows, one per header variant, each carrying only
    its own lines; each line counts once in the daily summary, under its own
    header's date."""
    data, out = str(tmp_path / "in"), str(tmp_path / "out")
    candygen.generate(data, seed=3, orders_per_day=1)
    for path in glob.glob(f"{data}/transactions_*.json"):
        os.remove(path)
    day1 = [
        {"transaction_id": 7, "customer_id": 1, "timestamp": "2024-02-01T09:00:00.000000",
         "items": [{"product_id": 1, "product_name": "a", "qty": 1},
                   {"product_id": 2, "product_name": "b", "qty": 2}]},
        {"transaction_id": 8, "customer_id": 3, "timestamp": "2024-02-01T10:00:00.000000",
         "items": [{"product_id": 3, "product_name": "c", "qty": 1}]},
    ]
    day2 = [  # order 7 again: another time, another customer, one line
        {"transaction_id": 7, "customer_id": 2, "timestamp": "2024-02-02T09:00:00.000000",
         "items": [{"product_id": 1, "product_name": "a", "qty": 1}]},
    ]
    for name, records in (("20240201", day1), ("20240202", day2)):
        with open(f"{data}/transactions_{name}.json", "w") as f:
            json.dump(records, f)
    _run_pass(spark, data, out)

    # one order a day stocks every product with 2 units: every line fills
    products = {int(r[0]): (float(r[5]), float(r[6])) for r in _read(data, "products.csv")[1:]}
    line = {p: candyref.round2(q * products[p][0]) for p, q in ((1, 1), (2, 2), (3, 1))}
    profit = {
        p: candyref.round2(line[p] - q * products[p][1]) for p, q in ((1, 1), (2, 2), (3, 1))
    }
    money = lambda x: f"{candyref.round2(x):.2f}"  # noqa: E731
    t7a, t7b, t8 = line[1] + line[2], line[1], line[3]
    assert _read(out, "orders.csv")[1:] == [
        ["7", "2024-02-01T09:00:00.000000", "1", money(t7a), "2"],
        ["7", "2024-02-02T09:00:00.000000", "2", money(t7b), "1"],
        ["8", "2024-02-01T10:00:00.000000", "3", money(t8), "1"],
    ]
    assert _read(out, "daily_summary.csv")[1:] == [
        ["2024-02-01", "2", money(t7a + t8), money(profit[1] + profit[2] + profit[3])],
        ["2024-02-02", "1", money(t7b), money(profit[1])],
    ]
