"""Pure-Python reference of the candy pipeline, and the output checker.

The reference reads the raw inputs written by ``candygen`` and computes the
four golden tables the way the reference pipeline specifies them
(FIXTURES.md section A), with no Spark involved:

- drop transactions with a null top-level field (``na.drop``);
- explode items, drop null-qty lines, drop duplicate lines;
- allocate stock per product greedily in ``(order_ts, order_id)`` order,
  all or nothing per line, skipping a line that does not fit and going on;
- order totals, ``products_updated`` and the daily summary.

``check_outputs`` compares the engine's five CSVs with it using the
reference CI tolerances: money columns ``rtol=1e-2, atol=0.01``,
``order_datetime`` parsed-equal, everything else exact, row order
significant; the forecast file is checked for its rows only.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import json
import os
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

MONEY = {"unit_price", "line_total", "total_amount", "total_sales", "total_profit"}
HEADERS = {
    "orders.csv": ["order_id", "order_datetime", "customer_id", "total_amount", "num_items"],
    "order_line_items.csv": ["order_id", "product_id", "quantity", "unit_price", "line_total"],
    "products_updated.csv": ["product_id", "product_name", "current_stock"],
    "daily_summary.csv": ["date", "num_orders", "total_sales", "total_profit"],
}
FORECAST = "sales_profit_forecast.csv"
FORECAST_HEADER = ["date", "forecasted_sales", "forecasted_profit"]


def round2(x: float) -> float:
    """Round half away from zero to cents, as the engine's decimal rounding."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def allocate(requests: list[tuple], stock: float) -> list[float]:
    """Greedy-with-skip, all-or-nothing allocation of one product.

    ``requests`` are ``(sort_key, qty)`` pairs; returns the fulfilled qty of
    each, in the given order after sorting by ``sort_key``. A request is
    filled whole iff ``0 < qty <= available``, otherwise it gets 0 and the
    scan goes on, so a smaller later request can still fill."""
    available = stock
    out = []
    for _key, qty in sorted(requests):
        if 0 < qty <= available:
            available -= qty
            out.append(float(qty))
        else:
            out.append(0.0)
    return out


def _read_csv(path: str) -> list[dict]:
    with open(path, newline="") as f:
        return list(csv.DictReader(f))


def reference(data_dir: str) -> dict[str, list[list[str]]]:
    """The four golden tables as rows of strings, sorted as the sinks sort."""
    products = {int(r["product_id"]): r for r in _read_csv(f"{data_dir}/products.csv")}
    txns = []
    for path in sorted(glob.glob(f"{data_dir}/transactions_*.json")):
        with open(path) as f:
            txns.extend(json.load(f))

    lines = set()  # (order_id, order_datetime, customer_id, product_id, qty)
    for t in txns:
        if any(t.get(c) is None for c in ("transaction_id", "customer_id", "timestamp", "items")):
            continue
        for item in t["items"]:
            if item["qty"] is not None:
                lines.add(
                    (t["transaction_id"], t["timestamp"], t["customer_id"],
                     item["product_id"], item["qty"])
                )

    by_product = defaultdict(list)
    for line in lines:
        order_id, ts, _cust, pid, qty = line
        by_product[pid].append(((dt.datetime.fromisoformat(ts), order_id), qty, line))
    fulfilled = {}
    for pid, reqs in by_product.items():
        reqs.sort(key=lambda r: r[0])
        stock = float(products[pid]["stock"]) if pid in products else float("nan")
        for (_key, _qty, line), got in zip(
            reqs, allocate([(k, q) for k, q, _ in reqs], stock)
        ):
            fulfilled[line] = got

    line_rows, order_total, order_lines, headers = [], defaultdict(float), defaultdict(int), {}
    sold, day_sales, day_profit = defaultdict(float), defaultdict(float), defaultdict(float)
    for line, got in fulfilled.items():
        order_id, ts, cust, pid, _qty = line
        price = float(products[pid]["sales_price"])
        total = round2(got * price)
        line_rows.append((order_id, pid, int(got), price, total))
        order_total[order_id] += total
        order_lines[order_id] += 1
        headers[order_id] = (ts, cust)
        sold[pid] += got
        day = dt.datetime.fromisoformat(ts).date()
        day_sales[day] += total
        day_profit[day] += round2(total - got * float(products[pid]["cost_to_make"]))

    day_orders = defaultdict(int)
    for ts, _cust in headers.values():
        day_orders[dt.datetime.fromisoformat(ts).date()] += 1

    money = lambda x: f"{x:.2f}"  # noqa: E731
    return {
        "order_line_items.csv": [
            [str(o), str(p), str(q), money(u), money(t)] for o, p, q, u, t in sorted(line_rows)
        ],
        "orders.csv": [
            [str(o), headers[o][0], str(headers[o][1]), money(round2(order_total[o])),
             str(order_lines[o])]
            for o in sorted(headers)
        ],
        "products_updated.csv": [
            [str(pid), p["product_name"], str(int(float(p["stock"]) - sold[pid]))]
            for pid, p in sorted(products.items())
        ],
        "daily_summary.csv": [
            [d.isoformat(), str(day_orders[d]), money(round2(day_sales[d])),
             money(round2(day_profit[d]))]
            for d in sorted(day_orders)
        ],
    }


def _cell_ok(col: str, got: str, want: str) -> bool:
    if col in MONEY:
        try:
            g, w = float(got), float(want)
        except ValueError:
            return False
        return abs(g - w) <= 0.01 + 1e-2 * abs(w)
    if col == "order_datetime":
        try:
            return dt.datetime.fromisoformat(got) == dt.datetime.fromisoformat(want)
        except ValueError:
            return False
    return got == want


def check_outputs(out_dir: str, expected: dict[str, list[list[str]]]) -> list[str]:
    """Compare the five CSVs under ``out_dir`` with ``expected``; return a
    list of problems (empty when every file matches)."""
    problems = []
    for name, header in HEADERS.items():
        path = os.path.join(out_dir, name)
        if not os.path.exists(path):
            problems.append(f"{name}: missing")
            continue
        with open(path, newline="") as f:
            rows = list(csv.reader(f))
        if not rows or rows[0] != header:
            problems.append(f"{name}: header {rows[:1]}")
            continue
        got, want = rows[1:], expected[name]
        if len(got) != len(want):
            problems.append(f"{name}: {len(got)} rows, expected {len(want)}")
            continue
        for i, (g, w) in enumerate(zip(got, want)):
            if len(g) != len(w) or not all(
                _cell_ok(c, a, b) for c, a, b in zip(header, g, w)
            ):
                problems.append(f"{name}: row {i + 1} is {g}, expected {w}")
                break
    path = os.path.join(out_dir, FORECAST)
    if not os.path.exists(path):
        problems.append(f"{FORECAST}: missing")
    else:
        with open(path, newline="") as f:
            rows = list(csv.reader(f))
        if not rows or rows[0] != FORECAST_HEADER or len(rows) != 2:
            problems.append(f"{FORECAST}: {len(rows)} lines, header {rows[:1]}")
    return problems
