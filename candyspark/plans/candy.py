"""Candy-pipeline-shaped queries over the testdata (SURVEY.md §2.9, M3).

The inventory-allocation operator family, mapped onto the TPC-H-ish tables
(products → part, line items → lineitem; FIXTURES.md §B operator→fixture
map). Stock is a deterministic synthetic per-part capacity so both engines
compute it identically: ``(p_partkey % 10 + 1) * 100``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from candyspark.functions.numeric import snap_round
from candyspark.operators.allocation import allocate_greedy
from candyspark.sources.readers import load_table

# Synthetic stock: deterministic in both engines, exhausts for low-capacity
# parts (sf0.01 demand is ~750 qty/part) so cancellation paths are exercised.
_STOCK = "(p_partkey % 10 + 1) * 100"


def _lineitems_with_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.expr(_STOCK).cast("double").alias("stock")
    )
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey)


def q_prefix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-based *prefix* allocation (the oracle-checkable variant of
    §2.9): in (l_shipdate, l_orderkey, l_linenumber) total order per part,
    a request is fulfilled iff the running demand INCLUDING it fits in stock
    — first-fit-stop semantics. One shuffle (the window partition), no
    driver state, no per-day loop (reference anti-pattern §4.2:
    src/data_processor.py:353-436,401-406)."""
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    df = _lineitems_with_stock(spark, sf_dir)
    running = F.sum("l_quantity").over(w)
    fulfilled = F.when(running <= F.col("stock"), F.col("l_quantity")).otherwise(F.lit(0.0))
    return df.select(
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        F.col("l_quantity").alias("requested_qty"),
        fulfilled.alias("fulfilled_qty"),
        # identical double arithmetic in both engines, then snapped through
        # decimal so the 2-dp round is engine-independent (see relational.py
        # module docstring on money rounding).
        F.round(
            (fulfilled * F.col("l_extendedprice") / F.col("l_quantity")).cast(
                "decimal(28,8)"
            ),
            2,
        )
        .cast("double")
        .alias("line_total"),
    )


PREFIX_ALLOCATION_SQL = """
SELECT l_orderkey, l_partkey, l_linenumber,
       l_quantity AS requested_qty,
       CASE WHEN running_qty <= stock THEN l_quantity ELSE 0 END AS fulfilled_qty,
       CAST(ROUND(CAST(CASE WHEN running_qty <= stock THEN l_quantity ELSE 0 END
                       * l_extendedprice / l_quantity AS DECIMAL(28,8)), 2) AS DOUBLE) AS line_total
FROM (
    SELECT l.*, (p_partkey % 10 + 1) * 100 AS stock,
           SUM(l_quantity) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
    FROM lineitem l JOIN part ON l_partkey = p_partkey
)
"""


def q_greedy_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual semantics (§2.9, src/data_processor.py:33-62):
    greedy-with-skip — a too-big request is cancelled but SMALLER later
    requests still fill. Inherently sequential per part → mapInPandas
    kernel (candyspark.operators.allocation); invariants are pinned by
    tests/test_allocation.py.

    Hash-checked since round 5: the sequential scan IS expressible in
    DuckDB as a recursive CTE stepping every part's chain in lockstep
    (rn → rn+1 joins against the per-part ROW_NUMBER in the pinned
    (l_shipdate, l_orderkey, l_linenumber) total order) — fine at oracle
    scale (sf0.01: 60k rows, max chain 49), which is the point: the
    recursion is the *oracle*, the one-shuffle kernel is the engine.
    Cross-engine exactness: qty/stock arithmetic is whole-valued doubles
    (exact subtraction); unit_price is the same double quotient in both
    engines; line_total rounds the *identical* product double, and
    fulfilled ∈ {0, qty} keeps it off representable 2-dp ties (measured
    bit-exact at sf0.001 and sf0.01)."""
    df = _lineitems_with_stock(spark, sf_dir).withColumn(
        "unit_price", F.col("l_extendedprice") / F.col("l_quantity")
    )
    return allocate_greedy(
        df,
        group_col="l_partkey",
        order_cols=["l_shipdate", "l_orderkey", "l_linenumber"],
        qty_col="l_quantity",
        stock_col="stock",
        unit_price_col="unit_price",
        out_keys=["l_orderkey", "l_partkey", "l_linenumber"],
    )


GREEDY_ALLOCATION_SQL = """
WITH RECURSIVE base AS (
    SELECT l.l_orderkey, l.l_partkey, l.l_linenumber,
           CAST(l_quantity AS DOUBLE) AS qty,
           CAST((p_partkey % 10 + 1) * 100 AS DOUBLE) AS stock,
           l_extendedprice / l_quantity AS unit_price,
           CAST(ROW_NUMBER() OVER (PARTITION BY l_partkey
                ORDER BY l_shipdate, l_orderkey, l_linenumber) AS BIGINT) AS rn
    FROM lineitem l JOIN part ON l_partkey = p_partkey
),
walk AS (
    SELECT l_orderkey, l_partkey, l_linenumber, qty, unit_price, rn,
           CASE WHEN qty > 0 AND qty <= stock THEN qty ELSE 0.0 END AS fulfilled,
           stock - CASE WHEN qty > 0 AND qty <= stock THEN qty ELSE 0.0 END AS available
    FROM base WHERE rn = 1
    UNION ALL
    SELECT b.l_orderkey, b.l_partkey, b.l_linenumber, b.qty, b.unit_price, b.rn,
           CASE WHEN b.qty > 0 AND b.qty <= w.available THEN b.qty ELSE 0.0 END,
           w.available
               - CASE WHEN b.qty > 0 AND b.qty <= w.available THEN b.qty ELSE 0.0 END
    FROM base b JOIN walk w ON b.l_partkey = w.l_partkey AND b.rn = w.rn + 1
)
SELECT l_orderkey, l_partkey, CAST(l_linenumber AS INT) AS l_linenumber,
       qty AS requested_qty,
       fulfilled AS fulfilled_qty,
       CAST(ROUND(CAST(fulfilled * unit_price AS DECIMAL(28,8)), 2) AS DOUBLE)
           AS line_total
FROM walk
"""


def q_inventory_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-allocation stock decrement (J2 — src/data_processor.py:444-464),
    computed from the greedy allocator's *actual* fulfilled totals in one
    agg + one broadcast-dim join (vs. 10 chained outer joins, §4.2).
    Greedy per-product totals equal prefix-allocation totals only when no
    skip occurs, so this derives from the SQL-expressible prefix variant to
    stay oracle-checkable."""
    alloc = q_prefix_allocation(spark, sf_dir)
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", F.expr(_STOCK).cast("double").alias("stock")
    )
    sold = alloc.groupBy("l_partkey").agg(F.sum("fulfilled_qty").alias("sold_qty"))
    return (
        F.broadcast(p)
        .join(sold, p.p_partkey == sold.l_partkey, "left")
        .select(
            "p_partkey",
            "p_name",
            F.round(F.col("stock") - F.coalesce("sold_qty", F.lit(0.0)), 2).alias(
                "current_stock"
            ),
        )
    )


INVENTORY_UPDATE_SQL = """
WITH alloc AS (
    SELECT l_partkey,
           CASE WHEN running_qty <= stock THEN l_quantity ELSE 0 END AS fulfilled_qty
    FROM (
        SELECT l.l_partkey, l.l_quantity, (p_partkey % 10 + 1) * 100 AS stock,
               SUM(l_quantity) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        FROM lineitem l JOIN part ON l_partkey = p_partkey
    )
)
SELECT p_partkey, p_name,
       ROUND((p_partkey % 10 + 1) * 100 - COALESCE(sold_qty, 0), 2) AS current_stock
FROM part
LEFT JOIN (SELECT l_partkey, SUM(fulfilled_qty) AS sold_qty FROM alloc GROUP BY l_partkey) s
  ON p_partkey = s.l_partkey
"""


# --- the daily sales series and its one-regressor trend fit -----------------


def daily_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(d, y)``: one row per order date, ``y`` the day's o_totalprice
    summed as exact DECIMAL(18,2) (DECIMAL(28,2) out). The sum is exact
    and order-independent, so both engines derive identical doubles from
    it. Scale: one map-side-combined aggregate over orders down to the
    calendar-bounded series (~2.4k rows at any SF)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y")
    )


def epoch_day() -> Column:
    """Day ``d`` as days since 1970-01-01, a long: the ``x`` of every daily
    trend fit."""
    return F.datediff("d", F.lit("1970-01-01")).cast("long")


def sales_xy(spark: SparkSession, sf_dir: str, *extra: Column | str) -> DataFrame:
    """:func:`daily_sales` as ``(*extra, x, y)``: x the :func:`epoch_day`,
    y narrowed to DECIMAL(18,2). ``extra`` columns (the date, day-order
    windows) are evaluated over ``(d, y)``."""
    return daily_sales(spark, sf_dir).select(
        *extra,
        epoch_day().alias("x"),
        F.col("y").cast("decimal(18,2)").alias("y"),
    )


#: :func:`daily_sales`, DuckDB form: the ``daily`` CTE.
DAILY_SALES_SQL = """daily AS (
    SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
    FROM orders GROUP BY 1
)"""
#: :func:`epoch_day`, DuckDB form.
EPOCH_DAY_SQL = "CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT)"


def sales_xy_sql(*extra: str) -> str:
    """:func:`sales_xy`, DuckDB form: the ``daily`` and ``xy`` CTEs, with
    the ``extra`` SELECT items first."""
    cols = "".join(f"{c},\n           " for c in extra)
    return f"""{DAILY_SALES_SQL},
xy AS (
    SELECT {cols}{EPOCH_DAY_SQL} AS x,
           CAST(y AS DECIMAL(18,2)) AS y
    FROM daily
)"""


_LINE_SUMS = ("n", "sx", "sy", "sxy", "sxx")


def _line_moments(x: Column, y: Column) -> list[Column]:
    return [F.count(F.lit(1)), F.sum(x), F.sum(y), F.sum(x * y), F.sum(x * x)]


def line_sums(x: Column, y: Column) -> list[Column]:
    """The sufficient statistics of the one-regressor OLS line y ~ a + b·x,
    for the caller's ``agg``: n, Σx, Σy, Σxy and Σx², each summed exactly
    (long / decimal, so order-independent) and cast to double once. Pass
    x and y as exact types; the products are then exact too. The
    closed-form fit over them is :func:`line_fit`."""
    return [m.cast("double").alias(c) for m, c in zip(_line_moments(x, y), _LINE_SUMS)]


def running_line_sums(x: Column, y: Column, w: WindowSpec) -> list[Column]:
    """:func:`line_sums` as running window sums over ``w``: every row
    carries the sums of its own prefix, so every prefix's fit assembles
    from its own row, with no per-prefix refit and no re-scan."""
    return [
        m.over(w).cast("double").alias(c) for m, c in zip(_line_moments(x, y), _LINE_SUMS)
    ]


def line_fit() -> tuple[Column, Column]:
    """``(slope, intercept)`` over the :func:`line_sums` columns:

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx·Σx),  intercept = (Σy − slope·Σx) / n

    Only this closed form runs in doubles, in the same textual order as
    the SQL mirror (:func:`line_fit_sql`), so the engines agree bit for
    bit. Both are NULL when the determinant is 0 (a single x value, e.g.
    a one-day series), which is also what DuckDB's x/0 gives."""
    n, sx, sy, sxy, sxx = (F.col(c) for c in _LINE_SUMS)
    det = n * sxx - sx * sx
    slope = F.when(det != 0, (n * sxy - sx * sy) / det)
    return slope, (sy - slope * sx) / n


def _line_sums_sql(x: str, y: str, over: str) -> str:
    moments = ("COUNT(*)", f"SUM({x})", f"SUM({y})", f"SUM({x} * {y})", f"SUM({x} * {x})")
    return ",\n           ".join(
        f"CAST({m}{over} AS DOUBLE) AS {c}" for m, c in zip(moments, _LINE_SUMS)
    )


def line_sums_sql(x: str, y: str = "y") -> str:
    """:func:`line_sums`, DuckDB form: the five SELECT items."""
    return _line_sums_sql(x, y, "")


def running_line_sums_sql(x: str, y: str, w: str) -> str:
    """:func:`running_line_sums`, DuckDB form, over the named window ``w``."""
    return _line_sums_sql(x, y, f" OVER {w}")


def line_fit_sql(rel: str) -> str:
    """:func:`line_fit`, DuckDB form: a subquery of ``rel`` (a CTE name or
    a parenthesised query with the line-sums columns) with ``slope`` and
    ``intercept`` appended."""
    return f"""(
    SELECT *, (sy - slope * sx) / n AS intercept
    FROM (SELECT *, CASE WHEN n * sxx - sx * sx != 0
                         THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope
          FROM {rel})
)"""


def trend_sums() -> list[Column]:
    """:func:`line_sums` of a daily trend: x the epoch day as DECIMAL(10,0),
    so Σxy is an exact decimal product sum."""
    return line_sums(F.col("x").cast("decimal(10,0)"), F.col("y"))


#: :func:`trend_sums`, DuckDB form.
TREND_SUMS_SQL = line_sums_sql("CAST(x AS DECIMAL(10,0))")


def _snapped_line(xy: DataFrame) -> DataFrame:
    """The one-row trend fit ``(b, a)`` over ``xy``: slope snapped at 8 dp
    and intercept at 6 dp through DECIMAL(28,10), so the residuals that
    follow start from identical doubles in both engines."""
    slope, intercept = line_fit()
    return xy.agg(*trend_sums()).select(
        F.round(slope.cast("decimal(28,10)"), 8).cast("double").alias("b"),
        F.round(intercept.cast("decimal(28,10)"), 6).cast("double").alias("a"),
    )


def _snapped_line_sql(rel: str) -> str:
    """:func:`_snapped_line`, DuckDB form, over ``rel`` (a FROM target)."""
    return f"""
    SELECT CAST(ROUND(CAST(slope AS DECIMAL(28,10)), 8) AS DOUBLE) AS b,
           CAST(ROUND(CAST(intercept AS DECIMAL(28,10)), 6) AS DOUBLE) AS a
    FROM {line_fit_sql(f"(SELECT {TREND_SUMS_SQL} FROM {rel})")}
"""


def q_forecast_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-day revenue forecast via closed-form OLS over the daily revenue
    series (the oracle-checkable twin of candyspark.forecast's linear model;
    the reference's Prophet fit is irreproducible by construction —
    SURVEY.md §2.12 — so THIS is the pinned-value forecasting surface).

    Determinism across engines: :func:`line_sums` and :func:`line_fit`.
    One aggregation pass; at scale this is a map-side-combined scalar agg,
    no window, no collect."""
    xy = daily_sales(spark, sf_dir).select(epoch_day().alias("x"), "y")
    s = xy.agg(*trend_sums(), F.max("x").cast("double").alias("mx"))
    slope, intercept = line_fit()
    yhat = intercept + slope * (F.col("mx") + 1)
    return s.select(
        F.date_add(F.lit("1970-01-01").cast("date"), (F.col("mx") + 1).cast("int")).alias(
            "date"
        ),
        F.round(yhat.cast("decimal(28,8)"), 2).cast("double").alias("forecast_revenue"),
    )


FORECAST_LINEAR_SQL = f"""
WITH {DAILY_SALES_SQL},
xy AS (SELECT {EPOCH_DAY_SQL} AS x, y FROM daily),
s AS (SELECT {TREND_SUMS_SQL},
             CAST(MAX(x) AS DOUBLE) AS mx
      FROM xy)
SELECT DATE '1970-01-01' + CAST(mx + 1 AS INT) AS date,
       CAST(ROUND(CAST(intercept + slope * (mx + 1)
           AS DECIMAL(28,8)), 2) AS DOUBLE) AS forecast_revenue
FROM {line_fit_sql("s")}
"""


def q_forecast_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-sample fit-quality metrics (MAE/MSE) of the linear daily-revenue
    forecast — the relational analogue of the reference's
    ``ProphetForecaster.get_metrics`` (/root/reference/src/time_series.py:45-67),
    which predicts the training period back through the fitted model and
    reports unrounded MAE/MSE. Here the model is the same closed-form OLS
    as ``q_forecast_linear`` and the metrics are one aggregate over (y, ŷ).

    Cross-engine determinism: the fit is :func:`line_fit`; ŷ/residual are
    the same textual double expressions in both engines, each per-day
    residual term is snapped to DECIMAL before the exact (order-independent)
    sum, and only the final mean division is double (mae snapped at 4 dp;
    mse at whole units — see inline note on the mantissa bound). Scale: two
    scans of the tiny daily aggregate (itself one map-side-combined pass
    over orders); the 1-row stats broadcast — no window, no collect."""
    xy = daily_sales(spark, sf_dir).select(
        epoch_day().alias("x"), "y"
    ).localCheckpoint()  # tiny (one row per day); feeds stats AND residuals
    s = xy.agg(*trend_sums())
    slope, intercept = line_fit()
    res = F.col("y").cast("double") - (intercept + slope * F.col("x"))
    return (
        xy.crossJoin(F.broadcast(s))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(
                (
                    F.sum(F.round(F.abs(res).cast("decimal(28,9)"), 9)).cast("double")
                    / F.count(F.lit(1))
                ).cast("decimal(28,8)"),
                4,
            )
            .cast("double")
            .alias("mae"),
            # mse (~1e11 at sf0.01) snapped to WHOLE units as bigint: a
            # DECIMAL(28,8) snap would scale the double by 1e8 past the
            # 53-bit mantissa inside DuckDB's cast and flip the last digit;
            # both engines derive the identical double (exact decimal sum →
            # one division), so integer HALF_UP rounding agrees exactly.
            F.round(
                F.sum(F.round((res * res).cast("decimal(28,6)"), 6)).cast("double")
                / F.count(F.lit(1)),
                0,
            )
            .cast("long")
            .alias("mse"),
        )
    )


FORECAST_METRICS_SQL = f"""
WITH {DAILY_SALES_SQL},
xy AS (SELECT {EPOCH_DAY_SQL} AS x, y FROM daily),
s AS (SELECT {TREND_SUMS_SQL} FROM xy),
r AS (
    SELECT CAST(xy.y AS DOUBLE) - (intercept + slope * x) AS res
    FROM xy CROSS JOIN {line_fit_sql("s")}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(ROUND(CAST(CAST(SUM(ROUND(CAST(ABS(res) AS DECIMAL(28,9)), 9))
                            AS DOUBLE) / COUNT(*)
                       AS DECIMAL(28,8)), 4) AS DOUBLE) AS mae,
       CAST(ROUND(CAST(SUM(ROUND(CAST(res * res AS DECIMAL(28,6)), 6))
                       AS DOUBLE) / COUNT(*), 0) AS BIGINT) AS mse
FROM r
"""


def q_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot matching — the accounting/inventory costing operator: each
    outgoing line consumes the oldest incoming lots of its part, expressed
    RELATIONALLY as an overlap join of cumulative-quantity intervals (no
    per-row loop, no state kernel — the set-based form of the same
    matching the greedy allocator does chronologically). Inflows are the
    part's 'F'-status lines, outflows its 'O'-status lines, both in
    (shipdate, orderkey, linenumber) total order.

    Each flow's cumulative sum turns quantity into an interval
    [cum−qty, cum); a lot funds an outflow exactly where the intervals
    overlap, and the allocated quantity is the overlap length — integer
    arithmetic end to end. The TRUE pair count is linear (an outflow of
    size q touches ≤ q/min_lot + 1 lots), and the join realizes that
    bound by BANDING the cumulative axis (the same trick
    operators/temporal.range_join_banded applies to time): each interval
    explodes to the width-``band`` buckets it covers (≤ qty/band + 1
    rows — ~2 at TPC-H quantities), the equi-join key becomes
    (part, cum_band), and each overlapping pair is emitted EXACTLY once
    by keeping only the band containing the overlap's start (both
    intervals contain that point, so they meet in that band; no
    distinct needed). A partkey-only join would evaluate each part's
    full inflow×outflow grid — per-part quadratic, a detonation on
    high-volume parts at 100 TB. Rolled up per part: matched quantity,
    unmatched demand (outflows beyond total inflow), and allocation
    count.
    """
    band = 64  # ≥ max TPC-H qty (50): each interval covers ≤ 2 bands
    # qty = 0 lines are FIFO no-ops (zero-width intervals can never fund
    # anything) — filtered on BOTH sides so engine and oracle agree on the
    # degenerate rows the banded join would drop anyway
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            "l_orderkey",
            "l_linenumber",
            "l_linestatus",
            "l_shipdate",
            F.col("l_quantity").cast("long").alias("qty"),
        )
        .filter(F.col("qty") > 0)
    )
    w = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, 0)

    def flow(status: str, prefix: str) -> DataFrame:
        f = li.filter(F.col("l_linestatus") == status).withColumn(
            "cum", F.sum("qty").over(w)
        )
        return f.select(
            F.col("l_partkey").alias(f"{prefix}_part"),
            F.col("l_orderkey").alias(f"{prefix}_order"),
            F.col("l_linenumber").alias(f"{prefix}_line"),
            (F.col("cum") - F.col("qty")).alias(f"{prefix}_start"),
            F.col("cum").alias(f"{prefix}_end"),
        )

    inflow, outflow = flow("F", "in"), flow("O", "out")

    def banded(df: DataFrame, prefix: str) -> DataFrame:
        s, e = F.col(f"{prefix}_start"), F.col(f"{prefix}_end")
        bands = F.when(
            e > s, F.sequence(F.floor(s / band), F.floor((e - 1) / band))
        ).otherwise(F.array().cast("array<bigint>"))
        return df.withColumn(f"{prefix}_cum_band", F.explode(bands))

    pairs = banded(inflow, "in").join(
        banded(outflow, "out"),
        (F.col("in_part") == F.col("out_part"))
        & (F.col("in_cum_band") == F.col("out_cum_band"))
        & (F.col("out_start") < F.col("in_end"))
        & (F.col("in_start") < F.col("out_end"))
        # emit each overlapping pair only in the band where its overlap
        # starts — the one band both sides are guaranteed to share
        & (
            F.col("in_cum_band")
            == F.floor(F.greatest(F.col("in_start"), F.col("out_start")) / band)
        ),
    ).select(
        F.col("in_part").alias("l_partkey"),
        (
            F.least(F.col("in_end"), F.col("out_end"))
            - F.greatest(F.col("in_start"), F.col("out_start"))
        ).alias("allocated"),
        F.col("out_end").alias("out_end"),
    )
    demand = outflow.groupBy(F.col("out_part").alias("l_partkey")).agg(
        F.max("out_end").alias("total_demand")
    )
    matched = pairs.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_allocations"),
        F.sum("allocated").cast("long").alias("matched_qty"),
    )
    return (
        demand.join(matched, "l_partkey", "left")
        .select(
            "l_partkey",
            F.coalesce("n_allocations", F.lit(0)).cast("long").alias("n_allocations"),
            F.coalesce("matched_qty", F.lit(0)).cast("long").alias("matched_qty"),
            (F.col("total_demand") - F.coalesce("matched_qty", F.lit(0)))
            .cast("long")
            .alias("unmatched_qty"),
        )
        .orderBy("l_partkey")
    )


FIFO_ALLOCATION_SQL = """
WITH base AS (
    SELECT l_partkey, l_orderkey, l_linenumber, l_linestatus, l_shipdate,
           CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem
    WHERE CAST(l_quantity AS BIGINT) > 0
),
inflow AS (
    SELECT l_partkey AS in_part,
           SUM(qty) OVER w - qty AS in_start,
           SUM(qty) OVER w AS in_end
    FROM base WHERE l_linestatus = 'F'
    WINDOW w AS (PARTITION BY l_partkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber
                 ROWS UNBOUNDED PRECEDING)
),
outflow AS (
    SELECT l_partkey AS out_part,
           SUM(qty) OVER w - qty AS out_start,
           SUM(qty) OVER w AS out_end
    FROM base WHERE l_linestatus = 'O'
    WINDOW w AS (PARTITION BY l_partkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber
                 ROWS UNBOUNDED PRECEDING)
),
pairs AS (
    SELECT in_part AS l_partkey,
           LEAST(in_end, out_end) - GREATEST(in_start, out_start) AS allocated
    FROM inflow JOIN outflow
      ON in_part = out_part
     AND out_start < in_end AND in_start < out_end
),
demand AS (
    SELECT out_part AS l_partkey, MAX(out_end) AS total_demand
    FROM outflow GROUP BY out_part
),
matched AS (
    SELECT l_partkey, COUNT(*) AS n_allocations,
           CAST(SUM(allocated) AS BIGINT) AS matched_qty
    FROM pairs GROUP BY l_partkey
)
SELECT d.l_partkey,
       CAST(COALESCE(n_allocations, 0) AS BIGINT) AS n_allocations,
       CAST(COALESCE(matched_qty, 0) AS BIGINT) AS matched_qty,
       CAST(total_demand - COALESCE(matched_qty, 0) AS BIGINT) AS unmatched_qty
FROM demand d LEFT JOIN matched m ON d.l_partkey = m.l_partkey
ORDER BY d.l_partkey
"""


def _one_step_ahead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every origin day t past a 30-day burn-in that has a next day and a
    lag-6 value, with ``yhat`` — the one-step-ahead prediction for t+1 of
    the linear model fitted on days ≤ t only — and ``y_next``, ``y_lag6``.

    The trick that makes ALL prefix fits ONE pass: the OLS sufficient
    statistics become :func:`running_line_sums` over the daily series, so
    every origin's closed-form fit assembles from its own row — no
    per-origin refit loop, no data re-scan. The window is unpartitioned
    but runs over the per-DAY aggregate (calendar-bounded: thousands of
    rows at any SF — the drift_psi convention). Prefix sums are exact
    (long / decimal); each origin's slope/intercept/prediction is one
    double association."""
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("x")
    pref = sales_xy(spark, sf_dir).select(
        *running_line_sums(F.col("x").cast("decimal(10,0)"), F.col("y"), w),
        F.lead("x").over(wl).alias("x_next"),
        F.lead("y").over(wl).alias("y_next"),
        F.lag("y", 6).over(wl).alias("y_lag6"),
    )
    slope, intercept = line_fit()
    return pref.filter(
        (F.col("n") >= 30)
        & F.col("x_next").isNotNull()
        & F.col("y_lag6").isNotNull()
    ).select(
        (intercept + slope * F.col("x_next").cast("double")).alias("yhat"),
        "y_next",
        "y_lag6",
    )


#: :func:`_one_step_ahead`, DuckDB form: the ``daily``, ``xy``, ``pref`` and
#: ``ahead`` CTEs.
_ONE_STEP_AHEAD_SQL = f"""{sales_xy_sql()},
pref AS (
    SELECT {running_line_sums_sql("CAST(x AS DECIMAL(10,0))", "y", "wp")},
           LEAD(x) OVER (ORDER BY x) AS x_next,
           LEAD(y) OVER (ORDER BY x) AS y_next,
           LAG(y, 6) OVER (ORDER BY x) AS y_lag6
    FROM xy
    WINDOW wp AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
ahead AS (
    SELECT intercept + slope * CAST(x_next AS DOUBLE) AS yhat, y_next, y_lag6
    FROM {line_fit_sql("pref")}
    WHERE n >= 30 AND x_next IS NOT NULL AND y_lag6 IS NOT NULL
)"""


def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtesting — the evaluation harness that
    turns forecast_linear/forecast_metrics from 'a fit' into 'a validated
    model': at EVERY origin day t (after a 30-day burn-in), fit the linear
    model on days ≤ t only and score its one-step-ahead prediction against
    day t+1; report MAE/RMSE over all origins plus MASE (error relative to
    the seasonal-naive lag-7 forecast — the scale-free skill score; MASE
    < 1 beats the naive baseline). All prefix fits run in one pass
    (:func:`_one_step_ahead`).

    Exactness: per-origin absolute errors snap to decimal so the MAE/RMSE
    sums are order-free; final ratios snap once.
    """
    origins = _one_step_ahead(spark, sf_dir).select(
        F.round(
            F.abs(F.col("yhat") - F.col("y_next").cast("double")).cast("decimal(28,6)"), 4
        )
        .cast("decimal(20,4)")
        .alias("err_ols"),
        F.round(
            F.abs(
                (F.col("y_lag6") - F.col("y_next")).cast("double")
            ).cast("decimal(28,6)"),
            4,
        )
        .cast("decimal(20,4)")
        .alias("err_snaive"),
    )
    agg = origins.agg(
        F.count(F.lit(1)).cast("long").alias("n_origins"),
        F.sum("err_ols").alias("se_ols"),
        F.sum("err_snaive").alias("se_snaive"),
        F.sum(F.col("err_ols") * F.col("err_ols")).alias("sq_ols"),
    )
    no = F.col("n_origins").cast("double")
    return agg.select(
        "n_origins",
        snap_round(F.col("se_ols").cast("double") / no, 4).alias("mae_ols"),
        snap_round(
            F.sqrt(F.col("sq_ols").cast("double") / no), 4
        ).alias("rmse_ols"),
        snap_round(F.col("se_snaive").cast("double") / no, 4).alias("mae_snaive"),
        snap_round(
            F.col("se_ols").cast("double") / F.col("se_snaive").cast("double"),
            6,
        ).alias("mase"),
    )


FORECAST_BACKTEST_SQL = f"""
WITH {_ONE_STEP_AHEAD_SQL},
origins AS (
    SELECT CAST(ROUND(CAST(ABS(yhat - CAST(y_next AS DOUBLE)) AS DECIMAL(28,6)), 4)
               AS DECIMAL(20,4)) AS err_ols,
           CAST(ROUND(CAST(ABS(CAST(y_lag6 - y_next AS DOUBLE))
               AS DECIMAL(28,6)), 4) AS DECIMAL(20,4)) AS err_snaive
    FROM ahead
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_origins,
       CAST(ROUND(CAST(CAST(SUM(err_ols) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS mae_ols,
       CAST(ROUND(CAST(SQRT(CAST(SUM(err_ols * err_ols) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(28,8)), 4) AS DOUBLE) AS rmse_ols,
       CAST(ROUND(CAST(CAST(SUM(err_snaive) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS mae_snaive,
       CAST(ROUND(CAST(CAST(SUM(err_ols) AS DOUBLE) / CAST(SUM(err_snaive) AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS mase
FROM origins
"""


def _day_ranked_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`sales_xy` with each day's rank ``rn`` in date order and the
    day count ``n_days``: the split points of the conformal queries derive
    FROM the data."""
    return sales_xy(
        spark,
        sf_dir,
        F.row_number().over(Window.orderBy("d")).cast("long").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("n_days"),
    )


#: :func:`_day_ranked_xy`, DuckDB form: the ``daily`` and ``xy`` CTEs.
_DAY_RANKED_XY_SQL = sales_xy_sql(
    "CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS rn",
    "CAST(COUNT(*) OVER () AS BIGINT) AS n_days",
)


def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the next-day revenue
    forecast — the distribution-free uncertainty the point forecasts
    (forecast_linear) and in-sample metrics (forecast_metrics) don't give:
    fit on the first 70% of days, take absolute residuals on the held-out
    30% calibration window, and the 90% interval is ŷ ± the
    ⌈(n_cal+1)·0.9⌉-th smallest residual. Coverage ≥ 90% holds by the
    exchangeability argument alone — no normality, no variance model
    (Vovk; the modern ML-ops standard for 'forecast ± what?').

    Relational shape: the split point derives FROM the data (row_number
    over the day series vs 0.7·count); the train fit is the usual exact
    sufficient-statistic aggregate; the calibration quantile is an ORDER
    STATISTIC — row_number = k over the residuals, an exact value crossing
    the engine boundary (the percentile_disc discipline, no interpolation
    to drift). Windows run over the calendar-bounded daily aggregate.
    """
    xy = _day_ranked_xy(spark, sf_dir).localCheckpoint()
    fit = _snapped_line(xy.filter(F.col("rn") * 10 <= F.col("n_days") * 7))
    cal = (
        xy.filter(F.col("rn") * 10 > F.col("n_days") * 7)
        .crossJoin(F.broadcast(fit))
        .select(
            F.round(
                F.abs(
                    F.col("a")
                    + F.col("b") * F.col("x").cast("double")
                    - F.col("y").cast("double")
                ).cast("decimal(28,6)"),
                4,
            )
            .cast("decimal(20,4)")
            .alias("resid"),
            (F.col("x") + 1).alias("x_next"),
        )
    )
    wr = Window.orderBy("resid")
    whole = Window.partitionBy()
    ranked = cal.select(
        "resid",
        F.max("x_next").over(whole).alias("x_pred"),
        F.row_number().over(wr).cast("long").alias("r"),
        F.count(F.lit(1)).over(whole).cast("long").alias("n_cal"),
    )
    q_row = ranked.filter(
        F.col("r")
        == F.least(F.ceil((F.col("n_cal") + 1) * 0.9).cast("long"), F.col("n_cal"))
    )
    return (
        q_row.crossJoin(F.broadcast(fit))
        .select(
            F.col("n_cal"),
            F.col("resid").cast("double").alias("q_resid"),
            snap_round(
                F.col("a") + F.col("b") * (F.col("x_pred").cast("double") + 1.0),
                2,
            ).alias("yhat_next"),
            snap_round(
                F.col("a")
                + F.col("b") * (F.col("x_pred").cast("double") + 1.0)
                - F.col("resid").cast("double"),
                2,
            ).alias("lo_90"),
            snap_round(
                F.col("a")
                + F.col("b") * (F.col("x_pred").cast("double") + 1.0)
                + F.col("resid").cast("double"),
                2,
            ).alias("hi_90"),
        )
    )


CONFORMAL_INTERVAL_SQL = f"""
WITH {_DAY_RANKED_XY_SQL},
fit AS ({_snapped_line_sql("xy WHERE rn * 10 <= n_days * 7")}),
cal AS (
    SELECT CAST(ROUND(CAST(ABS(a + b * CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
               AS DECIMAL(28,6)), 4) AS DECIMAL(20,4)) AS resid,
           x + 1 AS x_next
    FROM xy CROSS JOIN fit WHERE rn * 10 > n_days * 7
),
ranked AS (
    SELECT resid,
           MAX(x_next) OVER () AS x_pred,
           CAST(ROW_NUMBER() OVER (ORDER BY resid) AS BIGINT) AS r,
           CAST(COUNT(*) OVER () AS BIGINT) AS n_cal
    FROM cal
)
SELECT n_cal,
       CAST(resid AS DOUBLE) AS q_resid,
       CAST(ROUND(CAST(a + b * (CAST(x_pred AS DOUBLE) + 1.0)
            AS DECIMAL(28,8)), 2) AS DOUBLE) AS yhat_next,
       CAST(ROUND(CAST(a + b * (CAST(x_pred AS DOUBLE) + 1.0) - CAST(resid AS DOUBLE)
            AS DECIMAL(28,8)), 2) AS DOUBLE) AS lo_90,
       CAST(ROUND(CAST(a + b * (CAST(x_pred AS DOUBLE) + 1.0) + CAST(resid AS DOUBLE)
            AS DECIMAL(28,8)), 2) AS DOUBLE) AS hi_90
FROM ranked CROSS JOIN fit
WHERE r = LEAST(CAST(CEIL((n_cal + 1) * 0.9) AS BIGINT), n_cal)
"""


def q_reorder_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory policy from demand statistics — the operations-research
    layer ON TOP of the allocator family (prefix/greedy/fifo consume
    stock; this query decides how much stock to HOLD): per part, daily
    demand mean μ and standard deviation σ from exact power sums, then
    safety stock = z·σ·√L and reorder point = μ·L + SS for lead time
    L = 7 days at a 95% service level (z = 1.645). The candy reference
    stops at decrementing stock (src/data_processor.py:444-464); this is
    what a user would compute next with the same data.

    Exactness: per-(part, day) demand is an exact long; per-part Σd, Σd²
    are exact int64; σ uses the n-denominator population form assembled
    in double with ONE association; √L and z are exact literals; one
    snap per output. Demand days missing from the calendar count as
    OBSERVED days only (stated — zero-filling the calendar is the
    gap_fill_daily composition). Scale: two map-side-combined aggregates
    ((part, day) then part), top-20 via TakeOrdered.
    """
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.groupBy("l_partkey", F.col("l_shipdate").alias("d"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    )
    sums = daily.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sqq"),
    )
    n = F.col("n_days").cast("double")
    mu = F.col("sq").cast("double") / n
    var = F.col("sqq").cast("double") / n - mu * mu
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    ss = 1.645 * sigma * F.sqrt(F.lit(7.0))
    rop = mu * 7.0 + ss
    return (
        sums.filter(F.col("n_days") >= 5)
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("n_days").alias("demand_days"),
            snap_round(mu, 4).alias("mean_daily_demand"),
            snap_round(sigma, 4).alias("sigma_daily_demand"),
            snap_round(ss, 2).alias("safety_stock"),
            snap_round(rop, 2).alias("reorder_point"),
        )
        .orderBy(F.desc("reorder_point"), "partkey")
        .limit(20)
    )


REORDER_POINTS_SQL = """
WITH daily AS (
    SELECT l_partkey, l_shipdate AS d,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
    FROM lineitem GROUP BY 1, 2
),
sums AS (
    SELECT l_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(q) AS BIGINT) AS sq,
           CAST(SUM(q * q) AS BIGINT) AS sqq
    FROM daily GROUP BY 1
)
SELECT partkey, demand_days, mean_daily_demand, sigma_daily_demand,
       safety_stock, reorder_point
FROM (
    SELECT l_partkey AS partkey,
           n_days AS demand_days,
           CAST(ROUND(CAST(CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE)
                AS DECIMAL(28,8)), 4) AS DOUBLE) AS mean_daily_demand,
           CAST(ROUND(CAST(
               SQRT(GREATEST(CAST(sqq AS DOUBLE) / CAST(n_days AS DOUBLE)
                    - (CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE))
                      * (CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE)), 0.0))
               AS DECIMAL(28,8)), 4) AS DOUBLE) AS sigma_daily_demand,
           CAST(ROUND(CAST(
               1.645 * SQRT(GREATEST(CAST(sqq AS DOUBLE) / CAST(n_days AS DOUBLE)
                    - (CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE))
                      * (CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE)), 0.0))
               * SQRT(7.0)
               AS DECIMAL(28,8)), 2) AS DOUBLE) AS safety_stock,
           CAST(ROUND(CAST(
               (CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE)) * 7.0
               + 1.645 * SQRT(GREATEST(CAST(sqq AS DOUBLE) / CAST(n_days AS DOUBLE)
                    - (CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE))
                      * (CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE)), 0.0))
                 * SQRT(7.0)
               AS DECIMAL(28,8)), 2) AS DOUBLE) AS reorder_point
    FROM sums
    WHERE n_days >= 5
)
ORDER BY reorder_point DESC, partkey
LIMIT 20
"""


def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation-of-residuals test for the daily
    revenue OLS — the diagnostic that tells you whether forecast_linear's
    i.i.d.-error assumption holds (DW ≈ 2 means none; toward 0, positive
    autocorrelation and the OLS confidence story is broken even when the
    fit looks good). Completes the regression-diagnostics arc: fit
    (forecast_linear) → quality (forecast_metrics) → validation
    (forecast_backtest) → uncertainty (conformal_interval) → assumptions
    (THIS).

    One exact sufficient-statistic aggregate fits the line; residuals
    snap to decimal per day so both engines difference identical values;
    the lag pairing is a window over the calendar-bounded series; the two
    Σ's are exact decimal sums with one snapped ratio.
    """
    xy = sales_xy(spark, sf_dir).localCheckpoint()
    fit = _snapped_line(xy)
    resid = xy.crossJoin(F.broadcast(fit)).select(
        "x",
        F.round(
            (
                F.col("y").cast("double")
                - (F.col("a") + F.col("b") * F.col("x").cast("double"))
            ).cast("decimal(28,6)"),
            4,
        )
        .cast("decimal(20,4)")
        .alias("e"),
    )
    w = Window.orderBy("x")
    diffed = resid.select(
        "e", (F.col("e") - F.lag("e").over(w)).alias("de")
    )
    sums = diffed.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("e") * F.col("e")).alias("see"),
        F.sum(F.col("de") * F.col("de")).alias("sdd"),
    )
    # a two-day series fits exactly: see = 0 gives NULL, as in DuckDB
    dw = F.col("sdd").cast("double") / F.nullif(F.col("see").cast("double"), F.lit(0.0))
    return sums.select(
        "n_days",
        snap_round(dw, 6).alias("durbin_watson"),
        (snap_round(dw, 6) < 1.5).alias("positive_autocorrelation"),
    )


DURBIN_WATSON_SQL = f"""
WITH {sales_xy_sql()},
fit AS ({_snapped_line_sql("xy")}),
resid AS (
    SELECT x,
           CAST(ROUND(CAST(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE))
               AS DECIMAL(28,6)), 4) AS DECIMAL(20,4)) AS e
    FROM xy CROSS JOIN fit
),
diffed AS (
    SELECT e, e - LAG(e) OVER (ORDER BY x) AS de FROM resid
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           SUM(e * e) AS see,
           SUM(de * de) AS sdd
    FROM diffed
)
SELECT n_days,
       CAST(ROUND(CAST(CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS durbin_watson,
       CAST(ROUND(CAST(CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) < 1.5 AS positive_autocorrelation
FROM sums
"""


def q_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance — WHICH days drive the revenue trend fit: per-point
    influence D_i = e_i²·h_i / (p·s²·(1−h_i)²) with the simple-regression
    leverage h_i = 1/n + (x_i − x̄)²/Sxx in closed form. The last member of
    the regression-diagnostics arc (fit → metrics → backtest → interval →
    assumption test → INFLUENCE): a promotion spike or a data glitch shows
    up here before it silently bends the forecast.

    All scalars (x̄, Sxx, s², n) assemble from the same exact sufficient
    statistics as the fit and ride one broadcast row; per-day leverage,
    residual, and D are scan-stage algebra with one snap each. Top-10 by
    D via TakeOrdered — at any SF the influential-day report is 10 rows.
    """
    xy = sales_xy(spark, sf_dir, "d").localCheckpoint()
    s = xy.agg(*trend_sums(), F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"))
    slope, intercept = line_fit()
    sse = F.col("syy") - intercept * F.col("sy") - slope * F.col("sxy")
    fit = s.select(
        F.round(slope.cast("decimal(28,10)"), 8).cast("double").alias("b"),
        F.round(intercept.cast("decimal(28,10)"), 6).cast("double").alias("a"),
        F.col("n"),
        F.round((F.col("sx") / F.col("n")).cast("decimal(28,10)"), 6)
        .cast("double")
        .alias("xbar"),
        F.round(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")).cast(
                "decimal(28,6)"
            ),
            4,
        )
        .cast("double")
        .alias("sxx_c"),
        F.round((sse / F.nullif(F.col("n") - 2.0, F.lit(0.0))).cast("decimal(28,6)"), 4)
        .cast("double")
        .alias("s2"),
    )
    xd = F.col("x").cast("double")
    e = F.col("y").cast("double") - (F.col("a") + F.col("b") * xd)
    # a zero divisor gives NULL, as in DuckDB: sxx_c = 0 on a one-day series
    # (no x spread); on a two-day one n - 2 = 0 and each point's h is 1
    h = 1.0 / F.col("n") + (xd - F.col("xbar")) * (xd - F.col("xbar")) / F.nullif(
        F.col("sxx_c"), F.lit(0.0)
    )
    d_cook = (e * e * h) / F.nullif(
        2.0 * F.col("s2") * (1.0 - h) * (1.0 - h), F.lit(0.0)
    )
    return (
        xy.crossJoin(F.broadcast(fit))
        .select(
            "d",
            snap_round(e, 2).alias("residual"),
            snap_round(h, 6).alias("leverage"),
            snap_round(d_cook, 6).alias("cooks_d"),
        )
        .orderBy(F.desc("cooks_d"), "d")
        .limit(10)
    )


COOKS_DISTANCE_SQL = f"""
WITH {sales_xy_sql("d")},
s AS (
    SELECT {TREND_SUMS_SQL},
           CAST(SUM(y * y) AS DOUBLE) AS syy
    FROM xy
),
fit AS (
    SELECT CAST(ROUND(CAST(slope AS DECIMAL(28,10)), 8) AS DOUBLE) AS b,
           CAST(ROUND(CAST(intercept AS DECIMAL(28,10)), 6) AS DOUBLE) AS a,
           n,
           CAST(ROUND(CAST(sx / n AS DECIMAL(28,10)), 6) AS DOUBLE) AS xbar,
           CAST(ROUND(CAST(sxx - sx * sx / n AS DECIMAL(28,6)), 4) AS DOUBLE)
               AS sxx_c,
           CAST(ROUND(CAST((syy - intercept * sy - slope * sxy) / (n - 2.0)
               AS DECIMAL(28,6)), 4) AS DOUBLE) AS s2
    FROM {line_fit_sql("s")}
)
SELECT d,
       CAST(ROUND(CAST(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE))
            AS DECIMAL(28,8)), 2) AS DOUBLE) AS residual,
       CAST(ROUND(CAST(1.0 / n + (CAST(x AS DOUBLE) - xbar) * (CAST(x AS DOUBLE) - xbar)
            / sxx_c AS DECIMAL(28,8)), 6) AS DOUBLE) AS leverage,
       CAST(ROUND(CAST(
           ((CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE)))
            * (CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE)))
            * (1.0 / n + (CAST(x AS DOUBLE) - xbar) * (CAST(x AS DOUBLE) - xbar) / sxx_c))
           / (2.0 * s2
              * (1.0 - (1.0 / n + (CAST(x AS DOUBLE) - xbar) * (CAST(x AS DOUBLE) - xbar) / sxx_c))
              * (1.0 - (1.0 / n + (CAST(x AS DOUBLE) - xbar) * (CAST(x AS DOUBLE) - xbar) / sxx_c)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS cooks_d
FROM xy CROSS JOIN fit
ORDER BY cooks_d DESC, d
LIMIT 10
"""


def _backtest_origins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-origin one-step-ahead frame shared by the forecast-evaluation
    pair (mincer_zarnowitz / diebold_mariano): for every origin day with a
    30-day burn-in, the running-sum OLS prediction for t+1 (snapped at
    4 dp), the realized value, and the snapped absolute errors of the OLS
    and seasonal-naive forecasters — the forecast_backtest construction
    (:func:`_one_step_ahead`) re-exposed at origin grain."""
    return _one_step_ahead(spark, sf_dir).select(
        F.round(F.col("yhat").cast("decimal(28,4)"), 4).cast("decimal(20,4)").alias("p"),
        F.col("y_next").cast("decimal(18,2)").alias("y_next"),
        F.round(
            F.abs(F.col("yhat") - F.col("y_next").cast("double")).cast("decimal(28,6)"), 4
        )
        .cast("decimal(18,4)")
        .alias("err_ols"),
        F.round(
            F.abs(
                (F.col("y_lag6") - F.col("y_next")).cast("double")
            ).cast("decimal(28,6)"),
            4,
        )
        .cast("decimal(18,4)")
        .alias("err_snaive"),
    )


_ORIGINS_SQL = f"""{_ONE_STEP_AHEAD_SQL},
origins AS (
    SELECT CAST(ROUND(CAST(yhat AS DECIMAL(28,4)), 4) AS DECIMAL(20,4)) AS p,
           CAST(y_next AS DECIMAL(18,2)) AS y_next,
           CAST(ROUND(CAST(ABS(yhat - CAST(y_next AS DOUBLE)) AS DECIMAL(28,6)), 4)
               AS DECIMAL(18,4)) AS err_ols,
           CAST(ROUND(CAST(ABS(CAST(y_lag6 - y_next AS DOUBLE))
               AS DECIMAL(28,6)), 4) AS DECIMAL(18,4)) AS err_snaive
    FROM ahead
)
"""


def q_mincer_zarnowitz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mincer-Zarnowitz forecast calibration: regress the REALIZED value
    on the one-step OLS forecast over every backtest origin — an unbiased,
    efficient forecaster has intercept 0 and slope 1, and a slope
    significantly off 1 says the model systematically over/under-reacts
    (the question MAE/MASE in forecast_backtest cannot answer).

    Forecasts snap at 4 dp into DECIMAL(20,4) at origin grain, realized
    values are exact money decimals, so all six regression moments are
    exact decimal sums; slope/intercept/R² and the t-statistic of
    (slope − 1) are single closed-form double expressions, snapped.
    |t| > 1.96 flags miscalibration.

    Scale: the forecast_backtest posture exactly — one calendar-bounded
    window pass plus a 1-row rollup.
    """
    og = _backtest_origins(spark, sf_dir)
    sums = og.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("p").cast("decimal(38,4)").alias("sp"),
        F.sum("y_next").cast("decimal(38,2)").alias("sy"),
        F.sum(F.col("p").cast("decimal(18,4)") * F.col("y_next").cast("decimal(18,2)"))
        .cast("decimal(38,6)")
        .alias("spy"),
        F.sum(F.col("p").cast("decimal(18,4)") * F.col("p").cast("decimal(18,4)"))
        .cast("decimal(38,8)")
        .alias("spp"),
        F.sum(
            F.col("y_next").cast("decimal(18,2)") * F.col("y_next").cast("decimal(18,2)")
        )
        .cast("decimal(38,4)")
        .alias("syy"),
    )
    n = F.col("n").cast("double")
    sp, sy = F.col("sp").cast("double"), F.col("sy").cast("double")
    spy = F.col("spy").cast("double")
    spp, syy = F.col("spp").cast("double"), F.col("syy").cast("double")
    sxx_c = spp - sp * sp / n
    sxy_c = spy - sp * sy / n
    syy_c = syy - sy * sy / n
    b = sxy_c / sxx_c
    a = (sy - b * sp) / n
    rss = syy_c - b * b * sxx_c
    se_b = F.sqrt((rss / (n - 2.0)) / sxx_c)
    t_slope = F.when(rss > 0, snap_round((b - 1.0) / se_b, 4))
    return sums.select(
        F.col("n").alias("n_origins"),
        snap_round(a, 4).alias("intercept"),
        snap_round(b, 6).alias("slope"),
        snap_round(
            F.when(syy_c > 0, 1.0 - rss / syy_c), 6
        ).alias("r2"),
        t_slope.alias("t_slope_vs_1"),
        (F.abs(t_slope) > 1.96).alias("miscalibrated"),
    )


MINCER_ZARNOWITZ_SQL = f"""
WITH {_ORIGINS_SQL},
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(p) AS DECIMAL(38,4)) AS sp,
           CAST(SUM(y_next) AS DECIMAL(38,2)) AS sy,
           CAST(SUM(CAST(p AS DECIMAL(19,4)) * CAST(y_next AS DECIMAL(19,2)))
               AS DECIMAL(38,6)) AS spy,
           CAST(SUM(CAST(p AS DECIMAL(19,4)) * CAST(p AS DECIMAL(19,4)))
               AS DECIMAL(38,8)) AS spp,
           CAST(SUM(CAST(y_next AS DECIMAL(19,2)) * CAST(y_next AS DECIMAL(19,2)))
               AS DECIMAL(38,4)) AS syy
    FROM origins
),
stat AS (
    SELECT n,
           CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / n AS sxx_c,
           CAST(spy AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sy AS DOUBLE) / n AS sxy_c,
           CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS syy_c,
           CAST(sp AS DOUBLE) AS spd, CAST(sy AS DOUBLE) AS syd
    FROM sums
),
fit AS (
    SELECT n, sxx_c, syy_c, spd, syd,
           sxy_c / sxx_c AS b,
           syy_c - (sxy_c / sxx_c) * (sxy_c / sxx_c) * sxx_c AS rss
    FROM stat
)
SELECT n AS n_origins,
       CAST(ROUND(CAST((syd - b * spd) / n AS DECIMAL(28,8)), 4) AS DOUBLE)
           AS intercept,
       CAST(ROUND(CAST(b AS DECIMAL(28,8)), 6) AS DOUBLE) AS slope,
       CAST(ROUND(CAST(CASE WHEN syy_c > 0 THEN 1.0 - rss / syy_c END
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS r2,
       CASE WHEN rss > 0 THEN CAST(ROUND(CAST(
           (b - 1.0) / SQRT((rss / (n - 2.0)) / sxx_c)
           AS DECIMAL(28,8)), 4) AS DOUBLE) END AS t_slope_vs_1,
       CASE WHEN rss > 0 THEN ABS(CAST(ROUND(CAST(
           (b - 1.0) / SQRT((rss / (n - 2.0)) / sxx_c)
           AS DECIMAL(28,8)), 4) AS DOUBLE)) > 1.96 END AS miscalibrated
FROM fit
"""


def q_diebold_mariano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diebold-Mariano forecast comparison: is the OLS trend forecaster
    BETTER than the seasonal-naive lag-7 baseline, or just differently
    wrong? DM tests the mean of the per-origin squared-loss differential
    d_t = e_ols² − e_naive² against zero — the formal version of
    forecast_backtest's MASE ratio. For one-step-ahead forecasts the
    differential is serially uncorrelated under the null, so the plain
    sample variance is the right denominator (Diebold & Mariano 1995;
    HAC lags enter only at h > 1).

    Per-origin errors are 4-dp decimals, so every d_t and d_t² is exact
    decimal algebra; only the final DM = d̄/√(s²_d/n) is a snapped
    double. DM < −1.96: the OLS model significantly beats the baseline.

    Scale: the forecast_backtest posture — one calendar-bounded window
    pass, one rollup.
    """
    og = _backtest_origins(spark, sf_dir)
    # d snaps to 2 dp so d² stays EXACT decimal (a double Σd² would be
    # partial-order-dependent across partitions)
    d = (
        F.col("err_ols").cast("decimal(18,4)") * F.col("err_ols").cast("decimal(18,4)")
        - F.col("err_snaive").cast("decimal(18,4)")
        * F.col("err_snaive").cast("decimal(18,4)")
    ).cast("decimal(18,2)")
    sums = og.select(d.alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("decimal(38,2)").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("decimal(38,4)").alias("sdd"),
    )
    n = F.col("n").cast("double")
    mean_d = F.col("sd").cast("double") / n
    var_d = (F.col("sdd").cast("double") - n * mean_d * mean_d) / (n - 1.0)
    dm = F.when(var_d > 0, snap_round(mean_d / F.sqrt(var_d / n), 4))
    return sums.select(
        F.col("n").alias("n_origins"),
        snap_round(mean_d, 2).alias("mean_loss_diff"),
        dm.alias("dm_stat"),
        (dm < -1.96).alias("ols_significantly_better"),
        (dm > 1.96).alias("naive_significantly_better"),
    )


DIEBOLD_MARIANO_SQL = f"""
WITH {_ORIGINS_SQL},
diffs AS (
    SELECT CAST(CAST(err_ols AS DECIMAL(19,4)) * CAST(err_ols AS DECIMAL(19,4))
               - CAST(err_snaive AS DECIMAL(19,4))
                 * CAST(err_snaive AS DECIMAL(19,4))
               AS DECIMAL(19,2)) AS d
    FROM origins
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(d) AS DECIMAL(38,2)) AS sd,
           CAST(SUM(d * d) AS DECIMAL(38,4)) AS sdd
    FROM diffs
),
stat AS (
    SELECT n,
           CAST(sd AS DOUBLE) / n AS mean_d,
           (CAST(sdd AS DOUBLE) - n * (CAST(sd AS DOUBLE) / n)
               * (CAST(sd AS DOUBLE) / n)) / (n - 1.0) AS var_d
    FROM sums
)
SELECT n AS n_origins,
       CAST(ROUND(CAST(mean_d AS DECIMAL(28,8)), 2) AS DOUBLE) AS mean_loss_diff,
       CASE WHEN var_d > 0 THEN CAST(ROUND(CAST(mean_d / SQRT(var_d / n)
           AS DECIMAL(28,8)), 4) AS DOUBLE) END AS dm_stat,
       CASE WHEN var_d > 0 THEN CAST(ROUND(CAST(mean_d / SQRT(var_d / n)
           AS DECIMAL(28,8)), 4) AS DOUBLE) < -1.96 END
           AS ols_significantly_better,
       CASE WHEN var_d > 0 THEN CAST(ROUND(CAST(mean_d / SQRT(var_d / n)
           AS DECIMAL(28,8)), 4) AS DOUBLE) > 1.96 END
           AS naive_significantly_better
FROM stat
"""


def q_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical validity check of the split-conformal recipe: fit on the
    first 50% of days, calibrate the 90% interval on the next 25%, then
    MEASURE coverage on the final 25% the interval never saw.
    conformal_interval promises >= 90% by exchangeability; this query is
    the audit that the promise survives this series' actual drift - the
    number an ML-ops dashboard tracks next to the interval itself.

    Same relational discipline as conformal_interval: data-derived split
    points, exact sufficient-statistic fit, order-statistic calibration
    quantile (no interpolation), snapped residuals. Coverage is an exact
    count ratio; the one-sided binomial z against 0.9 flags significant
    undercoverage (z < -1.645).

    Scale: one keyed day aggregate, windows over the calendar-bounded
    relation, two 1-row broadcasts.
    """
    xy = _day_ranked_xy(spark, sf_dir).localCheckpoint()
    fit = _snapped_line(xy.filter(F.col("rn") * 2 <= F.col("n_days")))
    resid = F.round(
        F.abs(
            F.col("a") + F.col("b") * F.col("x").cast("double")
            - F.col("y").cast("double")
        ).cast("decimal(28,6)"),
        4,
    ).cast("decimal(20,4)")
    cal = (
        xy.filter(
            (F.col("rn") * 2 > F.col("n_days"))
            & (F.col("rn") * 4 <= F.col("n_days") * 3)
        )
        .crossJoin(F.broadcast(fit))
        .select(resid.alias("resid"))
    )
    wr = Window.orderBy("resid")
    whole = Window.partitionBy()
    q_row = (
        cal.select(
            "resid",
            F.row_number().over(wr).cast("long").alias("r"),
            F.count(F.lit(1)).over(whole).cast("long").alias("n_cal"),
        )
        .filter(
            F.col("r")
            == F.least(
                F.ceil((F.col("n_cal") + 1) * 0.9).cast("long"), F.col("n_cal")
            )
        )
        .select(F.col("resid").alias("q_hat"), "n_cal")
    )
    test = (
        xy.filter(F.col("rn") * 4 > F.col("n_days") * 3)
        .crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(q_row))
        .select(
            "n_cal",
            "q_hat",
            (resid <= F.col("q_hat")).cast("long").alias("covered"),
        )
    )
    agg = test.groupBy("n_cal", "q_hat").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum("covered").cast("long").alias("n_covered"),
    )
    cov = F.col("n_covered").cast("double") / F.col("n_test").cast("double")
    z = (cov - 0.9) / F.sqrt(
        0.9 * 0.1 / F.col("n_test").cast("double")
    )
    return agg.select(
        "n_cal",
        F.col("q_hat").cast("double").alias("q_hat"),
        "n_test",
        "n_covered",
        snap_round(cov, 6).alias("coverage"),
        snap_round(z, 4).alias("z_vs_nominal"),
        (snap_round(z, 4) < -1.645).alias("undercovers"),
    )


CONFORMAL_COVERAGE_SQL = f"""
WITH {_DAY_RANKED_XY_SQL},
fit AS ({_snapped_line_sql("xy WHERE rn * 2 <= n_days")}),
cal AS (
    SELECT CAST(ROUND(CAST(ABS(a + b * CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
               AS DECIMAL(28,6)), 4) AS DECIMAL(20,4)) AS resid
    FROM xy CROSS JOIN fit
    WHERE rn * 2 > n_days AND rn * 4 <= n_days * 3
),
q_row AS (
    SELECT resid AS q_hat, n_cal FROM (
        SELECT resid,
               CAST(ROW_NUMBER() OVER (ORDER BY resid) AS BIGINT) AS r,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_cal
        FROM cal
    ) WHERE r = LEAST(CAST(CEIL((n_cal + 1) * 0.9) AS BIGINT), n_cal)
),
test AS (
    SELECT q.n_cal, q.q_hat,
           CASE WHEN CAST(ROUND(CAST(ABS(a + b * CAST(x AS DOUBLE)
                    - CAST(y AS DOUBLE)) AS DECIMAL(28,6)), 4)
                    AS DECIMAL(20,4)) <= q.q_hat
                THEN 1 ELSE 0 END AS covered
    FROM xy CROSS JOIN fit CROSS JOIN q_row q
    WHERE rn * 4 > n_days * 3
),
agg AS (
    SELECT n_cal, q_hat,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(covered) AS BIGINT) AS n_covered
    FROM test GROUP BY 1, 2
)
SELECT n_cal, CAST(q_hat AS DOUBLE) AS q_hat, n_test, n_covered,
       CAST(ROUND(CAST(CAST(n_covered AS DOUBLE) / n_test
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS coverage,
       CAST(ROUND(CAST((CAST(n_covered AS DOUBLE) / n_test - 0.9)
           / SQRT(0.9 * 0.1 / n_test) AS DECIMAL(28,8)), 4) AS DOUBLE)
           AS z_vs_nominal,
       CAST(ROUND(CAST((CAST(n_covered AS DOUBLE) / n_test - 0.9)
           / SQRT(0.9 * 0.1 / n_test) AS DECIMAL(28,8)), 4) AS DOUBLE)
           < -1.645 AS undercovers
FROM agg
"""
