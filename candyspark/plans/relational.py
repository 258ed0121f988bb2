"""Relational operator suite (SURVEY.md §2.1-§2.10) over the driver testdata.

Each query re-expresses one operator family from the reference
(/root/reference/src/data_processor.py — citations inline) on the TPC-H-ish
tables, Spark-first: declarative DataFrame plans, explicit broadcast hints for
dimension joins, aggregates aliased identically in Spark and oracle SQL so the
driver's order-insensitive value-hash compare holds.

Numeric discipline (money-as-decimal): floating-point sums are
order-dependent, and double rounding is engine-dependent at half-cent
boundaries (Spark rounds the shortest decimal repr HALF_UP; DuckDB rounds the
binary value) — so every money expression is computed in DECIMAL in BOTH the
Spark plan and the oracle SQL (exact sums, half-away-from-zero rounding that
both engines share), and cast to double only at the output edge. This also
fixes the reference's float-money anti-pattern
(/root/reference/src/data_processor.py:481,491,531-536 — double + round(2)
everywhere; see SURVEY.md §7.4 item 3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from candyspark.functions.numeric import money, rate, round2
from candyspark.sources.readers import load_table


def _revenue() -> Column:
    """Exact decimal revenue: price × (1 − discount)."""
    return money("l_extendedprice") * rate(1 - F.col("l_discount"))


# SQL fragments mirroring the decimal discipline in DuckDB.
_REV = "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))"


# --- flagship (SURVEY.md §7.1) ----------------------------------------------


def q_daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-day order count + revenue — the direct analogue of the
    reference's ``create_daily_summary`` (src/data_processor.py:517-572:
    J5/J6 joins + A3 countDistinct + A4 sum/round + O1 sort), explode-less.

    Scale notes: the join shuffles on l_orderkey/o_orderkey (both sides large
    at 100 TB — sort-merge under AQE); the aggregate is partial+final hash agg
    on the low-cardinality date key, so the shuffle after the join carries
    only (date, orderkey, revenue).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.to_date("o_orderdate").alias("order_date"),
            F.col("o_orderkey"),
            _revenue().alias("revenue"),
        )
        .groupBy("order_date")
        .agg(
            F.countDistinct("o_orderkey").alias("num_orders"),
            round2(F.sum("revenue")).alias("total_sales"),
        )
        .orderBy("order_date")
    )


DAILY_SUMMARY_SQL = f"""
SELECT CAST(o_orderdate AS DATE) AS order_date,
       COUNT(DISTINCT o_orderkey) AS num_orders,
       CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS total_sales
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
ORDER BY 1
"""


# --- aggregations (A1-A4) ---------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped hash aggregation battery (A1/A4-class: sum/avg/count/round —
    src/data_processor.py:452-454,551-556), TPC-H-Q1-shaped. Partial
    aggregation (map-side combine) makes the shuffle carry one row per
    (flag, status) per task regardless of input scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            round2(F.sum(money("l_quantity"))).alias("sum_qty"),
            round2(F.sum(money("l_extendedprice"))).alias("sum_base_price"),
            round2(F.sum(_revenue())).alias("sum_disc_price"),
            round2(F.sum(_revenue() * rate(1 + F.col("l_tax")))).alias("sum_charge"),
            # avg: exact decimal sum ÷ count in double (identical in both
            # engines), then snapped through decimal before the 2-dp round.
            F.round(
                (F.sum(money("l_quantity")).cast("double") / F.count(F.lit(1))).cast(
                    "decimal(28,8)"
                ),
                2,
            )
            .cast("double")
            .alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM({_REV} * CAST(1 + l_tax AS DECIMAL(4,2))), 2) AS DOUBLE) AS sum_charge,
       CAST(ROUND(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
                       AS DECIMAL(28,8)), 2) AS DOUBLE) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order totals joined back to the order header (A2 + J3 —
    src/data_processor.py:489-513): sum + line count per order, left join,
    then the reference's deliberate ``na.drop()`` semantics (P5, :508) that
    removes headers with no surviving lines — expressed as a not-null filter
    so the dropped-rows behavior is explicit, not incidental.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    totals = li.groupBy("l_orderkey").agg(
        round2(F.sum(_revenue())).alias("total_amount"),
        F.count("l_partkey").alias("num_items"),
    )
    return (
        o.join(totals, o.o_orderkey == totals.l_orderkey, "left")
        .filter(F.col("total_amount").isNotNull())
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_custkey",
            "total_amount",
            "num_items",
        )
    )


ORDER_TOTALS_SQL = f"""
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       o_custkey,
       total_amount,
       num_items
FROM orders
LEFT JOIN (
    SELECT l_orderkey,
           CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS total_amount,
           COUNT(l_partkey) AS num_items
    FROM lineitem GROUP BY l_orderkey
) t ON o_orderkey = t.l_orderkey
WHERE total_amount IS NOT NULL
"""


# --- projections / filters / scalars (P1-P8, §2.10) -------------------------


def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + rename + comparison filters + cast + arithmetic (P1, P3,
    P4, P8 — src/data_processor.py:327-332,358-360,393-395; src/main.py:103).
    Both predicates and the 4-column projection reach the parquet scan
    (PushedFilters + ReadSchema pruning)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 25) & (F.col("l_discount") >= 0.02)).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("int").alias("qty"),
        round2(_revenue()).alias("revenue"),
        F.to_date("l_shipdate").alias("ship_date"),
    )


FILTER_PROJECT_SQL = f"""
SELECT l_orderkey, l_linenumber,
       CAST(l_quantity AS INT) AS qty,
       CAST(ROUND({_REV}, 2) AS DOUBLE) AS revenue,
       CAST(l_shipdate AS DATE) AS ship_date
FROM lineitem
WHERE l_quantity > 25 AND l_discount >= 0.02
"""


def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics battery (P2, P5-P7 — src/data_processor.py:333,380-385,
    395,508): nulls are manufactured with ``nullif`` (the testdata has none),
    then handled with isNotNull / when-otherwise / coalesce exactly as the
    reference's qty-null pipeline does."""
    o = load_table(spark, sf_dir, "orders")
    status_n = F.expr("nullif(o_orderstatus, 'O')")
    return o.select(
        "o_orderkey",
        F.coalesce(status_n, F.lit("OPEN")).alias("status_filled"),
        F.when(status_n.isNull(), 0).otherwise(1).cast("int").alias("is_closed"),
        F.when(F.col("o_totalprice") > 200000, F.lit("big"))
        .otherwise(F.lit("small"))
        .alias("size_class"),
    ).filter(F.col("o_orderkey").isNotNull())


NULL_HANDLING_SQL = """
SELECT o_orderkey,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_filled,
       CAST(CASE WHEN NULLIF(o_orderstatus, 'O') IS NULL THEN 0 ELSE 1 END AS INT) AS is_closed,
       CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_class
FROM orders
WHERE o_orderkey IS NOT NULL
"""


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's complete scalar surface (§2.10: round / when / coalesce
    / to_date / format_string — src/data_processor.py:481,340,565-570) plus
    the string/date functions any practical pipeline needs (concat, substring,
    upper, year/month). All JVM-side, whole-stage-codegen friendly."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_round"),
        F.format_string("%.2f", F.col("o_totalprice")).alias("total_str"),
        F.to_date("o_orderdate").alias("order_date"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_priority"),
        F.substring("o_orderpriority", 1, 1).alias("priority_code"),
        F.upper("o_orderstatus").alias("status_upper"),
        F.lower("o_orderpriority").alias("priority_lower"),
    )


SCALAR_FUNCTIONS_SQL = """
SELECT o_orderkey,
       ROUND(o_totalprice, 2) AS total_round,
       printf('%.2f', o_totalprice) AS total_str,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(month(o_orderdate) AS INT) AS order_month,
       concat_ws('-', o_orderstatus, o_orderpriority) AS status_priority,
       substring(o_orderpriority, 1, 1) AS priority_code,
       upper(o_orderstatus) AS status_upper,
       lower(o_orderpriority) AS priority_lower
FROM orders
"""


def q_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct on a projection (P9 — src/data_processor.py:398,501,540).
    Physically a partial+final hash aggregate over the projected columns."""
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_custkey", "o_orderstatus").distinct()


DISTINCT_PROJECTION_SQL = "SELECT DISTINCT o_custkey, o_orderstatus FROM orders"


# --- flatten / lateral (F1) -------------------------------------------------


def q_explode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nest-then-flatten: collect_list(struct) per order, then explode +
    struct-field projection — the reference's items-array flattening
    (F1, src/data_processor.py:326-332,366-374) exercised as an identity so
    the oracle is plain SQL over the base table. ``inline`` would fuse the
    explode+projection; kept as explode + dotted access for parity with the
    reference's shape."""
    li = load_table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(F.struct("l_partkey", "l_linenumber", "l_quantity")).alias("items")
    )
    return nested.select(
        "l_orderkey", F.explode("items").alias("item")
    ).select(
        "l_orderkey",
        F.col("item.l_partkey").alias("l_partkey"),
        F.col("item.l_linenumber").alias("l_linenumber"),
        F.col("item.l_quantity").alias("l_quantity"),
    )


EXPLODE_ROUNDTRIP_SQL = (
    "SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM lineitem"
)


# --- joins (J1-J6) ----------------------------------------------------------


def q_join_left_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⟕ dimension with an explicit broadcast hint (J1/J4 —
    src/data_processor.py:388-390,523-527; the reference imports ``broadcast``
    and never calls it, :13). At 100 TB the part dim (~2M rows/GB-scale) still
    broadcasts; without the hint a sort-merge join would shuffle the full
    fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left").select(
        "l_orderkey",
        "l_linenumber",
        "p_brand",
        round2(
            money("p_retailprice") * money("l_quantity") - money("l_extendedprice")
        ).alias("list_vs_actual"),
    )


JOIN_LEFT_BROADCAST_SQL = """
SELECT l_orderkey, l_linenumber, p_brand,
       CAST(ROUND(CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))
                  - CAST(l_extendedprice AS DECIMAL(12,2)), 2) AS DOUBLE) AS list_vs_actual
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
"""


def q_join_outer_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join + null-default — the reference's inventory decrement
    (J2 + P6/P7, src/data_processor.py:444-464), done ONCE against a single
    pre-aggregated sold total instead of the reference's 10 chained outer
    joins (anti-pattern §4.2: lineage growth)."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    sold = li.groupBy("l_partkey").agg(
        round2(F.sum(money("l_quantity"))).alias("sold_qty")
    )
    return p.join(sold, p.p_partkey == sold.l_partkey, "full_outer").select(
        F.coalesce("p_partkey", "l_partkey").alias("part_key"),
        "p_name",
        F.coalesce("sold_qty", F.lit(0.0)).alias("sold_qty"),
    )


JOIN_OUTER_INVENTORY_SQL = """
SELECT COALESCE(p_partkey, l_partkey) AS part_key,
       p_name,
       COALESCE(sold_qty, 0.0) AS sold_qty
FROM part
FULL OUTER JOIN (
    SELECT l_partkey, CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sold_qty
    FROM lineitem GROUP BY l_partkey
) s ON p_partkey = s.l_partkey
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop star join (J-class chain): lineitem ⨝ orders ⨝ customer ⨝
    nation ⨝ region, revenue per region — written aggregate-then-join:
    revenue is pre-summed per orderkey BEFORE the join chain, so (a) the
    join ships |orders| rows instead of |lineitem|, (b) the per-region
    COUNT DISTINCT of orders degenerates to a plain COUNT over the already
    order-grained rows (no expand/two-level distinct aggregation), and (c)
    the pre-aggregate's hash partitioning on orderkey is reused by the
    fact join — one effective lineitem shuffle total. ~1.6× faster at
    sf0.1 than the join-then-countDistinct form; the gap widens with
    lineitem-per-order fanout at scale. Dimension joins broadcast
    (nation/region tiny at any scale; customer up to AQE's threshold)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    per_order = li.groupBy("l_orderkey").agg(F.sum(_revenue()).alias("order_rev"))
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            round2(F.sum("order_rev")).alias("revenue"),
            F.count(F.lit(1)).alias("num_orders"),
        )
        .orderBy("r_name")
    )


REGION_REVENUE_SQL = f"""
SELECT r_name,
       CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS revenue,
       COUNT(DISTINCT o_orderkey) AS num_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins — absent from the reference (§2.4 'no semi/anti') but
    part of a complete join surface: customers WITH orders (semi) tagged
    against customers WITHOUT (anti), unioned. Semi/anti avoid materializing
    the probe side — at scale this beats ``join+distinct``."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", F.lit("active").alias("segment_status")
    )
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", F.lit("inactive").alias("segment_status")
    )
    return with_orders.unionByName(without)


JOIN_SEMI_ANTI_SQL = """
SELECT c_custkey, 'active' AS segment_status
FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT c_custkey, 'inactive' AS segment_status
FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


# --- windows (§2.6 — imported-but-unused in the reference) ------------------


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + row_number per partition — the window form of the
    reference's sequential allocator (§2.9/§2.6): cumulative demand per part
    in (l_shipdate, l_orderkey, l_linenumber) total order. The explicit ROWS
    frame + unique tiebreak makes the result a total function of the data
    (the reference's allocator famously was not — SURVEY.md §2.9 [verified]).
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wr = Window.partitionBy("l_partkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    return li.select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        round2(F.sum(money("l_quantity")).over(w)).alias("running_qty"),
        F.row_number().over(wr).alias("rn"),
    )


WINDOW_RUNNING_SUM_SQL = """
SELECT l_partkey, l_orderkey, l_linenumber, l_quantity,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (
           PARTITION BY l_partkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_qty,
       ROW_NUMBER() OVER (
           PARTITION BY l_partkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
FROM lineitem
"""


def q_window_rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-N via rank window: top-3 orders per customer by total
    price. At scale this is the shuffle-once pattern for per-key top-k
    (vs. the reference's global sorts, O1)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rank_in_cust"),
        )
        .filter(F.col("rank_in_cust") <= 3)
    )


WINDOW_RANK_TOPN_SQL = """
SELECT * FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rank_in_cust
    FROM orders
) WHERE rank_in_cust <= 3
"""


# --- sorts / limits / sets (O1-O2, U1) --------------------------------------


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k with deterministic tiebreak (O1+O2). Spark plans
    ``orderBy+limit`` as TakeOrderedAndProject — per-partition top-k then a
    k-row merge on the driver, no global sort shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


TOPK_ORDERS_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-then-aggregate (U1 — the reference's per-day union loop,
    src/data_processor.py:433-436, as ``unionByName``; §4.2 notes the loop
    itself is the anti-pattern). Two priority slices unioned, counted per
    status."""
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    high = o.filter(F.col("o_orderpriority") == "2-HIGH")
    return (
        urgent.unionByName(high)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("num_orders"),
            round2(F.sum(money("o_totalprice"))).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


UNION_SEGMENTS_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS num_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_price
FROM (
    SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT * FROM orders WHERE o_orderpriority = '2-HIGH'
)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup (grouping-sets family) — a cheap Spark-native extension the
    reference lacks (§2.5 'no grouping sets'): revenue by (year, status) with
    subtotals and a grand total. ``grouping_id`` disambiguates NULL-as-subtotal
    from genuine NULLs."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(F.year("o_orderdate").cast("int").alias("order_year"), "o_orderstatus", "o_totalprice")
        .rollup("order_year", "o_orderstatus")
        .agg(
            round2(F.sum(money("o_totalprice"))).alias("total_price"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .orderBy("gid", "order_year", "o_orderstatus")
    )


GROUPING_ROLLUP_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       o_orderstatus,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_price,
       CAST(GROUPING(order_year) * 2 + GROUPING(o_orderstatus) AS INT) AS gid
FROM orders
GROUP BY ROLLUP (order_year, o_orderstatus)
ORDER BY gid, order_year, o_orderstatus
"""


def q_sql_daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query through the ``spark.sql`` entry point: the SAME
    ANSI SQL string the DuckDB oracle runs, parsed by Catalyst over temp
    views. Proves the engine's SQL surface — a user can address every table
    relationally without touching the DataFrame API (the reference has no
    SQL entry at all: SURVEY.md §3, "no spark.sql(...) call anywhere").
    Both APIs produce the identical optimized logical plan."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(DAILY_SUMMARY_SQL)


SQL_DAILY_SUMMARY_SQL = DAILY_SUMMARY_SQL
