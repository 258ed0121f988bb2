"""Seeded generator for the candy pipeline's raw inputs.

Writes ``customers.csv``, ``products.csv`` and ten daily
``transactions_YYYYMMDD.json`` files (each a top-level JSON array) in the
layout ``python -m candyspark --data-dir`` reads. The data has the
properties of the reference candy-store dataset (FIXTURES.md section A):

- about 8% of items carry ``qty: null``;
- some orders have only null-qty items, so they vanish from ``orders.csv``;
- a few transactions have a null ``customer_id`` and are dropped whole;
- a few transactions are delivered twice, so line-item dedup has work;
- per-product demand exceeds stock from about day 8, so the allocator
  cancels lines;
- addresses contain commas and phone numbers come in mixed formats.

The same seed gives byte-identical files.

    python3 perfbench/candygen.py OUT_DIR --seed 7
"""

from __future__ import annotations

import argparse
import csv
import datetime as dt
import json
import os
import random

START = dt.date(2024, 2, 1)
N_DAYS = 10
N_PRODUCTS = 30
N_CUSTOMERS = 300
NULL_QTY_RATE = 0.08
NULL_CUSTOMER_RATE = 0.002
REDELIVERY_RATE = 0.005
#: stock as a share of a product's expected demand over the whole period;
#: below 1 so stock runs out, near 0.8 so it runs out around day 8
STOCK_SHARE = (0.74, 0.86)

_FIRST = ["Ana", "Ben", "Chen", "Dana", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun"]
_LAST = ["Abe", "Brook", "Cruz", "Diaz", "Egan", "Ford", "Gray", "Hale", "Ito", "Jain"]
_STREETS = ["Main St", "Oak Ave", "Pine Rd", "Elm St", "Lake Dr", "Hill Ct"]
_CITIES = ["Springfield", "Riverton", "Fairview", "Georgetown", "Salem"]
_DOMAINS = ["example.org", "example.net", "example.com"]
_FLAVOURS = ["Cherry", "Mint", "Lemon", "Cocoa", "Maple", "Berry", "Honey", "Vanilla"]
_KINDS = ["Drops", "Chews", "Foils", "Twists", "Bites"]
_CATEGORIES = ["Seasonal", "Classic", "Premium"]
_SUBCATEGORIES = ["Eggs", "Hearts", "Bars", "Gummies", "Lollipops"]
_SHAPES = ["Round", "Square", "Heart", "Star", "Egg"]


def _phone(rng: random.Random) -> str:
    a, b, c = rng.randint(200, 999), rng.randint(200, 999), rng.randint(1000, 9999)
    form = rng.randrange(4)
    if form == 0:
        return f"{a}{b}{c}"
    if form == 1:
        return f"({a}){b}-{c}"
    if form == 2:
        return f"{a}.{b}.{c}"
    return f"001-{a}-{b}-{c}x{rng.randint(100, 999)}"


def _write_csv(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def generate(out_dir: str, seed: int, orders_per_day: int = 1000) -> dict[str, int]:
    """Write the inputs under ``out_dir``; return a few counts. The
    benchmark uses the default size: 10,000 orders over the ten days."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    customers = []
    for cid in range(1, N_CUSTOMERS + 1):
        first, last = rng.choice(_FIRST), rng.choice(_LAST)
        address = (
            f"{rng.randint(1, 9999)} {rng.choice(_STREETS)}, "
            f"{rng.choice(_CITIES)}, ST {rng.randint(10000, 99999)}"
        )
        email = f"{first.lower()}.{last.lower()}{cid}@{rng.choice(_DOMAINS)}"
        customers.append([cid, first, last, email, address, _phone(rng)])
    _write_csv(
        os.path.join(out_dir, "customers.csv"),
        ["customer_id", "first_name", "last_name", "email", "address", "phone"],
        customers,
    )

    # expected demand per product: orders x mean items (3) x non-null share
    # x mean qty (3), spread evenly over the products
    n_orders = orders_per_day * N_DAYS
    demand = n_orders * 3 * (1 - NULL_QTY_RATE) * 3 / N_PRODUCTS
    products, names = [], {}
    for pid in range(1, N_PRODUCTS + 1):
        name = f"{rng.choice(_FLAVOURS)} {rng.choice(_KINDS)} {pid}"
        names[pid] = name
        price = rng.randint(87, 928) / 100
        cost = round(price * rng.uniform(0.3, 0.7), 2)
        stock = int(demand * rng.uniform(*STOCK_SHARE))
        products.append(
            [
                pid, name, rng.choice(_CATEGORIES), rng.choice(_SUBCATEGORIES),
                rng.choice(_SHAPES), f"{price:.2f}", f"{cost:.2f}", stock,
            ]
        )
    _write_csv(
        os.path.join(out_dir, "products.csv"),
        [
            "product_id", "product_name", "product_category", "product_subcategory",
            "product_shape", "sales_price", "cost_to_make", "stock",
        ],
        products,
    )

    # daily volumes vary around the mean, summing to n_orders
    weights = [rng.uniform(0.5, 1.5) for _ in range(N_DAYS)]
    counts = [int(n_orders * w / sum(weights)) for w in weights]
    counts[-1] += n_orders - sum(counts)
    ids = iter(rng.sample(range(10_000_000, 99_999_999), n_orders))

    n_items = n_null = 0
    for day, count in enumerate(counts):
        date = START + dt.timedelta(days=day)
        micros = sorted(rng.sample(range(8 * 3600 * 10**6, 22 * 3600 * 10**6), count))
        records = []
        for us in micros:
            ts = dt.datetime.combine(date, dt.time()) + dt.timedelta(microseconds=us)
            items = []
            for pid in rng.sample(range(1, N_PRODUCTS + 1), rng.randint(1, 5)):
                qty = None if rng.random() < NULL_QTY_RATE else rng.randint(1, 5)
                n_null += qty is None
                items.append({"product_id": pid, "product_name": names[pid], "qty": qty})
            n_items += len(items)
            customer = (
                None if rng.random() < NULL_CUSTOMER_RATE else rng.randint(1, N_CUSTOMERS)
            )
            records.append(
                {
                    "transaction_id": next(ids),
                    "customer_id": customer,
                    "timestamp": ts.isoformat(timespec="microseconds"),
                    "items": items,
                }
            )
            if rng.random() < REDELIVERY_RATE:
                records.append(records[-1])
        path = os.path.join(out_dir, f"transactions_{date:%Y%m%d}.json")
        with open(path, "w") as f:
            json.dump(records, f, indent=1)
    return {"orders": n_orders, "items": n_items, "null_qty_items": n_null}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("out_dir")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--orders-per-day", type=int, default=1000)
    args = p.parse_args()
    print(generate(args.out_dir, args.seed, args.orders_per_day))


if __name__ == "__main__":
    main()
