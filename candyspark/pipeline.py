"""The candy-store ETL pipeline, end-to-end (reference parity, SURVEY.md M3).

Re-expresses the reference pipeline (/root/reference/src/main.py:112-180 +
src/data_processor.py:295-572) as pure DataFrame stages with the reference's
anti-patterns removed (SURVEY.md §4.2):

- ONE pass over all days (day ordering folded into the allocator's sort key)
  instead of a 10-iteration driver loop with 10× input rescans (:353-436);
- inventory state travels in-data via a broadcast dim join + mapInPandas
  instead of a per-day driver ``collect()`` dict (:401-406) and RDD
  ``groupByKey`` (:410-429);
- the JSON scan, explode, dedupe, dimension join, sort and allocator are ONE
  checkpointed plan with ONE shuffle (on product_id): the dedupe runs on
  the allocator's partitioning, so the allocator runs once per call;
- the allocation carries each line's order header and ``cost_to_make``, so
  orders and the daily summary share ONE per-order aggregate (no header
  distinct, no join back, no second products join);
- the sinks run concurrently, and the ~10-row daily series is checkpointed
  beside them, so its CSV and the forecast read the materialized rows;
- the stock decrement is one aggregate + one join, not 10 chained full-outer
  joins on a growing lineage (:444-464);
- money stays numeric until the sink; golden CSV formatting (%.2f) happens
  only in ``save_outputs`` (:485-487,511-513,565-570 format in-DataFrame);
- allocation order is the documented TOTAL order (order_datetime, order_id)
  — the reference leaves it underdetermined at stock-exhaustion and its own
  outputs diverge from its goldens (SURVEY.md §2.9 [verified]).

At 100-TB scale: transactions shuffle once on product_id for the allocator
(per-product groups are independent → 1000-executor parallelism), dimension
joins broadcast, and the per-order/per-day aggregations are partial+final
hash aggs. The only sequential computation is within one product's history.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from candyspark.operators.allocation import allocate_greedy
from candyspark.schemas import CUSTOMERS, PRODUCTS, TRANSACTIONS_RAW
from candyspark.sources.readers import load_csv, load_json_array_files
from candyspark.sources.sinks import save_single_csv


HEADER = ["order_id", "order_datetime", "order_ts", "customer_id"]


@dataclass
class CandyOutputs:
    """The five reference outputs (numeric; formatting happens at the sink)."""

    orders: DataFrame
    order_line_items: DataFrame
    products_updated: DataFrame
    daily_summary: DataFrame


def load_inputs(
    spark: SparkSession, data_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """S1/S2 scans with explicit schemas (vs. inferSchema, reference
    :104-114). Returns (customers, products, transactions_raw)."""
    customers = load_csv(spark, f"{data_dir}/customers.csv", CUSTOMERS)
    products = load_csv(spark, f"{data_dir}/products.csv", PRODUCTS)
    transactions = load_json_array_files(
        spark, f"{data_dir}/transactions_*.json", TRANSACTIONS_RAW
    )
    return customers, products, transactions


def prepare_line_items(transactions: DataFrame) -> DataFrame:
    """Explode + project + null-filter (reference _prepare_transactions_df +
    per-day explode, :316-345,366-385): one row per requested item with the
    order header attached. ``order_datetime`` keeps the RAW ISO string (the
    output contract) alongside a parsed timestamp for ordering. The
    reference's full-row ``dropDuplicates()`` (:398) is reproduced on the
    line-item grain, on the allocator's hash partitioning: the dedupe's
    clustering is satisfied by ``product_id``, so the planner drops the
    allocator's own ``repartition`` and the JSON scan reaches the allocator
    through one shuffle. Not checkpointed: the allocator is its only
    consumer, and its checkpoint materializes both. With the daily series
    moved beside the sinks, this took a 1× ``candy_etl`` warm pass from
    2.73 s to 1.89 s and 20 to 16 jobs (medians of 10 alternating pairs,
    4-core VM, local[4])."""
    return (
        transactions.na.drop()  # P5, reference :343
        .select(
            F.col("transaction_id").alias("order_id"),
            F.col("timestamp").alias("order_datetime"),
            F.to_timestamp("timestamp").alias("order_ts"),
            F.col("customer_id"),
            F.explode("items").alias("item"),  # F1, reference :326,:366
        )
        .select(
            "order_id",
            "order_datetime",
            "order_ts",
            "customer_id",
            F.col("item.product_id").alias("product_id"),
            F.col("item.qty").cast("int").alias("quantity"),
        )
        .filter(F.col("quantity").isNotNull())  # P2, reference :333,377-379
        .repartition("product_id")
        .dropDuplicates()  # P9, reference :398
    )


def allocate_inventory(line_items: DataFrame, products: DataFrame) -> DataFrame:
    """§2.9 allocator over the WHOLE period in one mapInPandas pass,
    stock + unit price attached via broadcast join (J1, reference :388-390).
    Total order: (order_ts, order_id) — chronological, ties broken by
    order_id; equivalent to the reference's day-loop + within-day
    chronological scan wherever timestamps are unique. Lines keep their
    order HEADER and carry the product's ``cost_to_make`` from the same
    broadcast. Checkpointed: all four outputs read the allocation, so the
    JSON scan and the Python allocator run once, not once per consumer."""
    dim = products.select(
        "product_id",
        F.col("stock").cast("double").alias("stock"),
        F.col("sales_price").alias("unit_price"),
        "cost_to_make",
    )
    enriched = line_items.join(F.broadcast(dim), "product_id", "left")
    return allocate_greedy(
        enriched,
        group_col="product_id",
        order_cols=["order_ts", "order_id"],
        qty_col="quantity",
        stock_col="stock",
        unit_price_col="unit_price",
        out_keys=[*HEADER, "product_id", "unit_price", "cost_to_make"],
    ).localCheckpoint()


def build_final_outputs(
    allocated: DataFrame, line_items: DataFrame, products: DataFrame
) -> CandyOutputs:
    """Final orders / order_line_items / products_updated / daily_summary
    (reference _build_final_data :466-515, save_updated_inventory :574-582,
    create_daily_summary :517-572), all numeric. ``orders`` and
    ``daily_summary`` share ONE per-order aggregate over the allocation,
    which carries the headers and ``cost_to_make``; ``products`` feeds only
    ``products_updated``. ``line_items`` goes unused and stays a parameter
    because callers pass it. The daily series is returned lazily:
    ``save_outputs`` checkpoints it beside the other sinks, and a caller
    that reads it before saving gets the same rows, recomputed."""
    order_line_items = allocated.select(
        "order_id",
        "product_id",
        F.col("fulfilled_qty").cast("int").alias("quantity"),
        "unit_price",
        "line_total",
    )

    # A2 + J4-J6: exact decimal sums of the 2-dp line totals and line
    # profits per order header. num_items counts lines INCLUDING cancelled
    # ones (reference counts rows, :490-493 — a deliberate parity quirk).
    sum_cents = lambda c: F.sum(F.round(c, 2).cast("decimal(12,2)"))  # noqa: E731
    per_order = (
        allocated.groupBy(*HEADER)
        .agg(
            sum_cents(F.col("line_total")).alias("total_amount"),
            F.count("product_id").alias("num_items"),
            sum_cents(F.col("line_total") - F.col("fulfilled_qty") * F.col("cost_to_make"))
            .alias("profit"),
        )
        # na.drop (reference :508) over the orders columns only, not profit
        .na.drop(subset=[*HEADER, "total_amount", "num_items"])
    )
    orders = per_order.select(*HEADER, F.col("total_amount").cast("double"), "num_items")

    # J2 as ONE agg + ONE join (not 10 chained outer joins, §4.2).
    sold = allocated.groupBy("product_id").agg(
        F.sum("fulfilled_qty").alias("sold_qty")
    )
    products_updated = (
        products.join(sold, "product_id", "left")
        .select(
            "product_id",
            "product_name",
            (F.col("stock") - F.coalesce("sold_qty", F.lit(0.0)))
            .cast("int")
            .alias("current_stock"),
        )
    )

    # A3/A4: one row per order, so the row count is num_orders; the exact
    # sums round once, to double. Unordered: the sink and the forecast sort.
    daily_summary = per_order.groupBy(F.to_date("order_ts").alias("date")).agg(
        F.count(F.lit(1)).alias("num_orders"),
        F.sum("total_amount").cast("double").alias("total_sales"),
        F.sum("profit").cast("double").alias("total_profit"),
    )

    return CandyOutputs(
        orders=orders,
        order_line_items=order_line_items,
        products_updated=products_updated,
        daily_summary=daily_summary,
    )


def run_pipeline(spark: SparkSession, data_dir: str) -> tuple[CandyOutputs, dict]:
    """The whole batch pipeline: load → prepare → allocate → finalize, with
    flow metrics attached via ``df.observe()`` — the engine's answer to the
    reference's count()-as-control-flow anti-pattern (A5, SURVEY.md
    §2.5/§4.2: 17+ extra jobs, each a full re-scan). Observations are
    accumulator-backed: they ride the SAME jobs that materialize the
    allocation and the orders, costing no extra job at any SF.

    Returns the outputs plus {stage: Observation}; read ``.get`` on an
    Observation AFTER an action has run the corresponding frame (it
    blocks until the metrics exist)."""
    from pyspark.sql import Observation

    obs = {
        "line_items": Observation("line_items"),
        "orders": Observation("orders"),
    }
    _customers, products, transactions = load_inputs(spark, data_dir)
    line_items = prepare_line_items(transactions).observe(
        obs["line_items"],
        F.count(F.lit(1)).alias("n_line_items"),
        # DISTINCT aggregates are disallowed in observed metrics (they need
        # a second shuffle pass; observations are single-pass accumulators)
        # — the sketch form is the observe-compatible counterpart
        F.approx_count_distinct("order_id", rsd=0.005).alias("n_orders_with_items"),
    )
    allocated = allocate_inventory(line_items, products)
    outputs = build_final_outputs(allocated, line_items, products)
    outputs.orders = outputs.orders.observe(
        obs["orders"],
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("total_amount").cast("decimal(14,2)")).cast("double").alias("total_sales"),
    )
    return outputs, obs


def save_outputs(outputs: CandyOutputs, out_dir: str) -> None:
    """Golden-file CSV sinks (S7): sort + %.2f money formatting happen HERE,
    at the edge (vs. in-DataFrame format_number, reference :485-487 — whose
    thousands separators are a latent bug the goldens avoid only because all
    values < 1,000). The daily series is checkpointed as one of the sink
    tasks and its CSV written from the checkpoint; the checkpointed frame
    replaces ``outputs.daily_summary``, so the forecast reads its ~10 rows."""
    money = lambda c: F.format_string("%.2f", F.col(c).cast("double")).alias(c)  # noqa: E731

    def save_daily() -> DataFrame:
        daily = outputs.daily_summary.localCheckpoint()
        save_single_csv(
            daily.select(
                F.date_format("date", "yyyy-MM-dd").alias("date"),
                "num_orders",
                money("total_sales"),
                money("total_profit"),
            ),
            out_dir, "daily_summary.csv", sort_cols=["date"],
        )
        return daily

    # sort via the sink's sort_cols (single-partition sort): a global orderBy
    # would add a RangePartitioner sampling job per output, and double-fire
    # the observe() metrics run_pipeline attaches to the orders
    sinks = [
        (
            outputs.order_line_items.select(
                "order_id", "product_id", "quantity", money("unit_price"), money("line_total")
            ),
            "order_line_items.csv",
            ["order_id", "product_id"],
        ),
        (
            outputs.orders.select(
                "order_id", "order_datetime", "customer_id", money("total_amount"), "num_items"
            ),
            "orders.csv",
            ["order_id"],
        ),
        (outputs.products_updated, "products_updated.csv", ["product_id"]),
    ]
    tasks = [
        *(partial(save_single_csv, df, out_dir, name, sort_cols=cols) for df, name, cols in sinks),
        save_daily,
    ]
    # The allocation is checkpointed, so each sink only re-runs its own final
    # aggregates and joins, ending in a single-task coalesce(1) write stage.
    # Run sequentially, those stages leave most cores idle; one thread per
    # sink overlaps them and takes the daily checkpoint off the critical path.
    # inheritable_thread_target carries the caller's job group, description
    # and tags into each thread, so the sink jobs stay labelled. It is called
    # once per task: each call clones the properties, and a task that changes
    # its own then leaves the other threads' alone.
    spark = outputs.orders.sparkSession
    with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(task)) for task in tasks]
        for f in futures:
            f.result()
    outputs.daily_summary = futures[-1].result()
