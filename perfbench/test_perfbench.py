"""Tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import candygen  # noqa: E402
import candyref  # noqa: E402
import oracle  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_candy_generator_is_byte_deterministic_per_seed(tmp_path):
    for d in ("a", "b"):
        candygen.generate(str(tmp_path / d), seed=5, orders_per_day=60)
    candygen.generate(str(tmp_path / "c"), seed=6, orders_per_day=60)
    assert len(os.listdir(tmp_path / "a")) == 12  # 2 CSVs + 10 daily JSON arrays
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_candy_generator_has_the_reference_data_properties(tmp_path):
    counts = candygen.generate(str(tmp_path), seed=1, orders_per_day=400)
    assert 0.06 < counts["null_qty_items"] / counts["items"] < 0.10
    expected = candyref.reference(str(tmp_path))
    orders = expected["orders.csv"]
    assert len(orders) < counts["orders"]  # all-null and null-customer orders vanish
    cancelled = [r for r in expected["order_line_items.csv"] if r[2] == "0"]
    assert cancelled  # stock runs out
    days = sorted({r[1][:10] for r in orders})
    cancelled_orders = {r[0] for r in cancelled}
    first_cancel = min(o[1][:10] for o in orders if o[0] in cancelled_orders)
    assert first_cancel >= days[4]  # not before the second half of the period


def test_reference_allocator_skips_and_cancels():
    # stock 5, requests in time order 3, 4, 2, 1 (given out of order):
    # 3 fills (2 left), 4 does not fit and is cancelled but the scan goes on,
    # 2 fills (0 left), 1 is cancelled; a zero request is never filled
    requests = [((2, 20), 4), ((1, 10), 3), ((4, 40), 1), ((3, 30), 2), ((5, 50), 0)]
    assert candyref.allocate(requests, 5.0) == [3.0, 0.0, 2.0, 0.0, 0.0]
    # ties on time are broken by order id
    assert candyref.allocate([((1, 2), 2), ((1, 1), 3)], 3.0) == [3.0, 0.0]


def test_check_outputs_flags_a_wrong_money_value(tmp_path):
    sample = {"order_datetime": "2024-02-01T09:02:56.690430", "date": "2024-02-01"}
    expected = {
        name: [[sample.get(c, "1.00" if c in candyref.MONEY else "1") for c in header]]
        for name, header in candyref.HEADERS.items()
    }
    for name, header in candyref.HEADERS.items():
        (tmp_path / name).write_text(",".join(header) + "\n" + ",".join(expected[name][0]) + "\n")
    (tmp_path / candyref.FORECAST).write_text(
        ",".join(candyref.FORECAST_HEADER) + "\n2024-02-11,1.00,1.00\n"
    )
    assert candyref.check_outputs(str(tmp_path), expected) == []
    # within the reference CI tolerance (atol 0.01 + rtol 1e-2)
    (tmp_path / "orders.csv").write_text(
        "order_id,order_datetime,customer_id,total_amount,num_items\n"
        "1,2024-02-01 09:02:56.69043,1,1.01,1\n"
    )
    assert candyref.check_outputs(str(tmp_path), expected) == []
    (tmp_path / "orders.csv").write_text(
        "order_id,order_datetime,customer_id,total_amount,num_items\n"
        "1,2024-02-01T09:02:56.690430,1,1.20,1\n"
    )
    assert candyref.check_outputs(str(tmp_path), expected) != []


def test_oracle_cache_regenerates_from_one_command(tmp_path):
    out = tmp_path / "cache.json"
    subprocess.run(
        [sys.executable, os.path.join(HERE, "oracle.py"), "--out", str(out)],
        check=True, capture_output=True,
    )
    assert json.loads(out.read_text()) == oracle.load()
