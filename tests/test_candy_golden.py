"""Golden-file E2E parity with the reference pipeline (SURVEY.md §5.2 item 1).

Runs the rebuilt pipeline on the reference's own inputs
(/root/reference/data/dataset_32) and compares against BOTH committed result
sets, under the reference CI's tolerance rules (money rtol=1e-2, atol=0.01;
datetimes parsed-equal; all else exact — /root/reference/.gitlab-ci.yml):

- ``data/output/`` (the reference's actual run): EXACT match expected — the
  rebuild's documented (order_ts, order_id) total order reproduces it.
- ``data/answers_32/`` (the goldens): known to diverge from any deterministic
  chronological run on exactly 290 line items / 277 orders at stock-exhaustion
  (SURVEY.md §2.9 [verified]); the test pins that envelope and requires
  per-product fulfilled totals, products_updated, and daily_summary to match.

Comparison is sort-normalized by key: the committed CSVs' row order is an
artifact of the reference's shuffle (NOT sorted by order_id despite its
orderBy — verified by inspection), so positional compare is meaningless.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from candyspark.pipeline import run_pipeline

DATA = "/root/reference/data/dataset_32"
ANSWERS = "/root/reference/data/answers_32"
OUTPUT = "/root/reference/data/output"

RTOL, ATOL = 1e-2, 0.01


@pytest.fixture(scope="module")
def outputs(spark):
    out, _obs = run_pipeline(spark, DATA)
    return {
        "orders": out.orders.toPandas(),
        "li": out.order_line_items.toPandas(),
        "prod": out.products_updated.orderBy("product_id").toPandas(),
        "daily": out.daily_summary.toPandas(),
    }


def test_row_counts(outputs):
    assert len(outputs["orders"]) == 9846  # 10,000 txns − 154 all-null-qty
    assert len(outputs["li"]) == 27803
    assert len(outputs["prod"]) == 30
    assert len(outputs["daily"]) == 10


def test_exact_match_vs_reference_run(outputs):
    """Line items match the reference's ACTUAL run bit-for-bit: the pinned
    chronological total order reproduces its allocation exactly."""
    ref = pd.read_csv(f"{OUTPUT}/order_line_items.csv")
    j = ref.merge(
        outputs["li"], on=["order_id", "product_id"], suffixes=("_r", "_m"), how="outer", indicator=True
    )
    assert (j["_merge"] == "both").all()
    assert (j.quantity_r == j.quantity_m).all()
    assert np.allclose(j.unit_price_r, j.unit_price_m, rtol=RTOL, atol=ATOL)
    assert np.allclose(j.line_total_r, j.line_total_m, rtol=RTOL, atol=ATOL)


def test_products_updated_exact(outputs):
    ans = pd.read_csv(f"{ANSWERS}/products_updated.csv")
    j = ans.merge(outputs["prod"], on="product_id", suffixes=("_a", "_m"))
    assert len(j) == 30
    assert (j.current_stock_a == j.current_stock_m).all()
    assert (j.product_name_a == j.product_name_m).all()


def test_daily_summary_matches(outputs):
    ans = pd.read_csv(f"{ANSWERS}/daily_summary.csv")
    mine = outputs["daily"].copy()
    mine["date"] = mine["date"].astype(str)
    j = ans.assign(date=ans.date.astype(str)).merge(mine, on="date", suffixes=("_a", "_m"))
    assert len(j) == 10
    assert (j.num_orders_a == j.num_orders_m).all()
    assert np.allclose(j.total_sales_a, j.total_sales_m, rtol=RTOL, atol=ATOL)
    assert np.allclose(j.total_profit_a, j.total_profit_m, rtol=RTOL, atol=ATOL)


def test_orders_vs_goldens_within_known_envelope(outputs):
    ans = pd.read_csv(f"{ANSWERS}/orders.csv")
    j = ans.merge(outputs["orders"], on="order_id", suffixes=("_a", "_m"))
    assert len(j) == 9846
    # Non-allocation columns: exact.
    assert (j.order_datetime_a == j.order_datetime_m).all()
    assert (j.customer_id_a == j.customer_id_m).all()
    assert (j.num_items_a == j.num_items_m).all()
    # Allocation-dependent money: divergence confined to the goldens' known
    # 277-order anomaly (SURVEY.md §2.9).
    diverged = (~np.isclose(j.total_amount_a, j.total_amount_m, rtol=RTOL, atol=ATOL)).sum()
    assert diverged <= 277, f"{diverged} orders diverge (known envelope: 277)"


def test_line_items_vs_goldens_within_known_envelope(outputs):
    ans = pd.read_csv(f"{ANSWERS}/order_line_items.csv")
    j = ans.merge(
        outputs["li"], on=["order_id", "product_id"], suffixes=("_a", "_m"), how="outer", indicator=True
    )
    assert (j["_merge"] == "both").all()
    assert np.allclose(j.unit_price_a, j.unit_price_m, rtol=RTOL, atol=ATOL)
    diverged = (j.quantity_a != j.quantity_m).sum()
    assert diverged <= 290, f"{diverged} line items diverge (known envelope: 290)"
    # Total allocated stock per product is identical regardless of which
    # orders won at exhaustion.
    assert (
        j.groupby("product_id").quantity_a.sum() == j.groupby("product_id").quantity_m.sum()
    ).all()


def test_save_outputs_golden_csv_shape(spark, tmp_path):
    """S7 single-file CSV sink: 4 files, golden headers, %.2f money strings
    (e.g. '6.70', never '1,234.56')."""
    from candyspark.pipeline import run_pipeline, save_outputs

    out, _obs = run_pipeline(spark, DATA)
    save_outputs(out, str(tmp_path))
    li = pd.read_csv(tmp_path / "order_line_items.csv", dtype=str)
    assert list(li.columns) == ["order_id", "product_id", "quantity", "unit_price", "line_total"]
    assert li.unit_price.str.fullmatch(r"\d+\.\d{2}").all()
    orders = pd.read_csv(tmp_path / "orders.csv", dtype=str)
    assert list(orders.columns) == ["order_id", "order_datetime", "customer_id", "total_amount", "num_items"]
    daily = pd.read_csv(tmp_path / "daily_summary.csv", dtype=str)
    assert len(daily) == 10 and daily.date.iloc[0] == "2024-02-01"
    prod = pd.read_csv(tmp_path / "products_updated.csv")
    assert len(prod) == 30


def test_observed_pipeline_metrics_without_extra_jobs(spark):
    """The observe()-based flow metrics must report the pipeline's known
    cardinalities (10,000 transactions explode to line items on 9,846+154
    orders; 9,846 survive the all-null drop) from the SAME jobs that
    materialize the outputs — the A5 anti-pattern (count() control flow,
    17+ extra scans in the reference) replaced at zero scan cost."""
    outputs, obs = run_pipeline(spark, DATA)
    # one action per observed frame materializes its metrics
    n_line_item_rows = outputs.order_line_items.count()
    n_order_rows = outputs.orders.count()

    li = obs["line_items"].get
    # approx_count_distinct (observe() forbids DISTINCT aggs): within 2%
    assert abs(li["n_orders_with_items"] - 9846) <= 0.02 * 9846
    assert li["n_line_items"] >= n_line_item_rows  # pre-allocation grain

    o = obs["orders"].get
    assert o["n_orders"] == n_order_rows == 9846
    assert o["total_sales"] > 0
