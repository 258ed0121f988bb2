"""Greedy chronological inventory allocation — the reference's core custom
operator (SURVEY.md §2.9; /root/reference/src/data_processor.py:33-62,400-429).

Reference semantics (greedy-with-skip, all-or-nothing): scan a product's
requests in chronological order; a request is fulfilled entirely iff
``0 < qty <= available`` (then stock decrements), otherwise fulfilled 0
(cancelled) — but scanning CONTINUES, so a smaller later request can still
fill. No partial fulfillment.

The reference runs this as a driver-collected dict + RDD
``groupByKey().mapValues(list).flatMap`` inside a per-day Python loop
(anti-patterns §4.2: full-row pickling, 10× rescans, driver state). Here it
is one ``repartition(group)`` + ``sortWithinPartitions(group, order)`` +
``mapInPandas`` pass over the whole period:

- state (stock) travels IN the data via a broadcast dim join, not a driver
  dict (reference :401-406);
- Arrow batches instead of Python-object pickling;
- the day dimension is just the sort key — one shuffle total, and the plan
  scales per-group across 1000 executors (each part's history lands in one
  partition, already sorted, and the kernel walks its groups in order; the
  sort is per-partition, not global).

Determinism: the reference's allocation order is underdetermined at
stock-exhaustion (its own outputs diverge from its goldens on 290 line items
— SURVEY.md §2.9 [verified]). This rebuild pins a TOTAL order via
``order_cols`` (caller must make them a unique key, e.g.
(order_datetime, order_id) / (l_shipdate, l_orderkey, l_linenumber)).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def allocate_greedy(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    qty_col: str,
    stock_col: str,
    unit_price_col: str,
    out_keys: list[str],
) -> DataFrame:
    """All-or-nothing greedy allocation per ``group_col``.

    ``df`` must carry, per row: the requested ``qty_col``, the group's
    ``stock_col`` (constant within a group, typically from a broadcast dim
    join), and the per-unit ``unit_price_col``. Returns one row per input
    row: ``out_keys + [requested_qty, fulfilled_qty, line_total]`` where
    cancelled lines have fulfilled_qty = 0 and line_total = 0.0
    (line_total = round(fulfilled × unit_price, 2), reference :57).

    Physical shape: ``repartition(group)`` + ``sortWithinPartitions(group,
    order)`` + ``mapInPandas`` — the same single hash shuffle a
    ``groupBy().applyInPandas`` would cost, but the Python side sees one
    pandas frame per ARROW BATCH, not per group. With many small groups
    (sf0.1: ~20k parts) grouped-map materializes ~20k tiny frames and the
    per-frame overhead dominates (measured 7.6 s → 2.5 s end-to-end from
    this rewrite). Correctness across batch boundaries: a group's rows are
    contiguous within a sorted partition, so the kernel only carries the
    scalar (current group, remaining stock) between batches.
    """
    from typing import Iterator

    fields = {f.name: f.dataType for f in df.schema.fields}
    out_schema = T.StructType(
        [T.StructField(k, fields[k]) for k in out_keys]
        + [
            T.StructField("requested_qty", T.DoubleType()),
            T.StructField("fulfilled_qty", T.DoubleType()),
            T.StructField("line_total", T.DoubleType()),
        ]
    )
    cols = list(dict.fromkeys(out_keys + order_cols + [qty_col, stock_col, unit_price_col]))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        group = object()  # sentinel != any real key
        available = 0.0
        for pdf in batches:
            keys = pdf[group_col].tolist()
            qty = pdf[qty_col].astype(float).tolist()
            stock = pdf[stock_col].astype(float).tolist()
            fulfilled = qty.copy()
            for i, q in enumerate(qty):
                if keys[i] != group:
                    group = keys[i]
                    available = stock[i]
                if 0.0 < q <= available:
                    available -= q
                else:  # cancel, keep scanning (greedy-with-skip, reference :47-57)
                    fulfilled[i] = 0.0
            out = pdf[out_keys].copy()
            out["requested_qty"] = pdf[qty_col].astype(float).to_numpy()
            out["fulfilled_qty"] = fulfilled
            # unrounded here; the 2-dp money snap happens Spark-side below so
            # both engines round through DECIMAL(28,8) half-away-from-zero
            # (numpy .round is ties-to-even — tie-divergent vs DuckDB ROUND)
            out["line_total"] = (
                out["fulfilled_qty"].to_numpy() * pdf[unit_price_col].astype(float).to_numpy()
            )
            yield out

    return (
        df.select(*cols)
        .repartition(group_col)
        .sortWithinPartitions(group_col, *order_cols)
        .mapInPandas(kernel, schema=out_schema)
        .withColumn(
            "line_total",
            F.round(F.col("line_total").cast("decimal(28,8)"), 2).cast("double"),
        )
    )
