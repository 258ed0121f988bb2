"""Deep analytical query family (TPC-H-shaped) over the driver testdata.

The reference's joins are all single-key two-table equi-joins
(/root/reference/src/data_processor.py:388-390,456-464,502,523-527,543-560 —
SURVEY.md §2.4) and its aggregations single-level (§2.5). A user migrating
real analytical workloads needs the shapes those compose into: 3..6-table
join chains whose ORDER Catalyst must pick, conditional aggregation,
aggregates-of-aggregates, correlated-subquery forms (rewritten as joins so
both the Spark plan and the 100 TB story are explicit), and the scalar
string/date function surface (§2.10 lists the reference touching only
round/when/coalesce/to_date/format_* — this module covers the rest of the
families a SQL user expects).

Plan-shape discipline at 100 TB (applies to every query here):

- **Dimension joins broadcast**: ``region`` (5 rows) and ``nation`` (25) are
  broadcast at any scale; ``supplier`` (10k×SF) and filtered ``customer``
  subsets are broadcast-able at bench SFs and left to AQE at 100 TB — the
  hint is applied only where the side is bounded by construction.
- **Fact-fact joins shuffle on the join key** (lineitem ⨝ orders on
  orderkey): sort-merge under AQE, co-partitionable via bucketing
  (sources/sinks.save_bucketed) when the pipeline owns the layout.
- **Aggregate-then-join, never join-then-aggregate** where semantics allow:
  per-key sub-aggregates (Q13/Q15/Q17/Q18 shapes) reduce the shuffled side
  from |lineitem| to |keys| before the join.
- Money follows the engine's decimal discipline (plans/relational.py module
  docstring): exact DECIMAL internally, double only at the output edge, so
  the DuckDB oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from candyspark.functions.numeric import money, rate, round2, snap_round
from candyspark.plans.relational import _REV, _revenue
from candyspark.sources.readers import load_table


# --- Q3 shape: 3-table join chain + grouped top-k ---------------------------


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer ⨝ orders ⨝ lineitem with selective filters on
    every table, grouped revenue, deterministic top-10.

    Scale: the segment filter prunes customer BEFORE the join (predicate
    pushdown to the parquet scan), so the customer side is ~1/5 of the table;
    orders⨝lineitem shuffles on orderkey. The final top-10 is a TakeOrdered —
    no global sort materializes. Total order (revenue DESC, l_orderkey) pins
    the result for the oracle hash (SURVEY.md §2.9's tie-break lesson).
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round2(F.sum(_revenue())).alias("revenue"))
        .select(
            "l_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


SHIPPING_PRIORITY_SQL = f"""
SELECT l_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       o_orderpriority,
       CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-01-01'
  AND l_shipdate > TIMESTAMP '1999-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --- Q14 shape: conditional aggregation (promo share per month) -------------


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly PROMO-part share of revenue — conditional
    aggregation (SUM(CASE WHEN ...)) computed in one pass, no second scan.

    Scale: part is a dimension (200×SF rows here, 20M at SF100k) joined on
    partkey; the month grouping keeps the post-join aggregate tiny. The
    share is two decimal-exact sums divided as doubles at the edge — one
    aggregate, not a self-join of two filtered aggregates.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = _revenue()
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(12,2)")))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month"))
        .agg(
            snap_round(promo.cast("double") / F.sum(rev).cast("double") * 100.0).alias(
                "promo_share_pct"
            ),
            round2(F.sum(rev)).alias("total_revenue"),
        )
        .orderBy("ship_month")
    )


PROMO_REVENUE_SHARE_SQL = f"""
SELECT CAST(DATE_TRUNC('month', l_shipdate) AS DATE) AS ship_month,
       CAST(ROUND(CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV}
                                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                       / CAST(SUM({_REV}) AS DOUBLE) * 100.0
                       AS DECIMAL(28,8)), 4) AS DOUBLE) AS promo_share_pct,
       CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
GROUP BY 1
ORDER BY 1
"""


# --- Q8 flavor: 6-table chain, same-nation trade share per year -------------


def q_local_trade_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 flavor: per order-year, the revenue share of 'local' trade
    (customer nation == supplier nation). Six relations — lineitem, orders,
    customer, supplier, nation twice (self-aliased) — the widest join chain
    in the engine; exercises Catalyst's join reordering and double use of
    one dimension.

    Scale: both nation sides broadcast (25 rows at any SF). supplier is
    keyed per-lineitem (l_suppkey) so it joins pre-aggregation; at 100 TB
    AQE decides broadcast vs shuffle for it — no hard hint, deliberately.
    The conditional share avoids a second pass exactly as in Q14.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = F.broadcast(n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")))
    sn = F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")))
    rev = _revenue()
    local = F.sum(
        F.when(F.col("cust_nation") == F.col("supp_nation"), rev).otherwise(
            F.lit(0).cast("decimal(12,2)")
        )
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(cn, c.c_nationkey == F.col("cn_key"))
        .join(sn, s.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            snap_round(local.cast("double") / F.sum(rev).cast("double") * 100.0).alias(
                "local_share_pct"
            ),
            round2(F.sum(rev)).alias("total_revenue"),
        )
        .orderBy("order_year")
    )


LOCAL_TRADE_SHARE_SQL = f"""
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
       CAST(ROUND(CAST(CAST(SUM(CASE WHEN cn.n_name = sn.n_name THEN {_REV}
                                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                       / CAST(SUM({_REV}) AS DOUBLE) * 100.0
                       AS DECIMAL(28,8)), 4) AS DOUBLE) AS local_share_pct,
       CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS total_revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
GROUP BY 1
ORDER BY 1
"""


# --- Q13 shape: outer join + aggregate-of-aggregate -------------------------


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by how many orders they
    placed — LEFT OUTER join (customers with zero orders must survive) into
    a per-customer count, then a second aggregation over the counts.

    Scale: the first aggregate shuffles on custkey (|orders| rows in,
    |customer| out); the second shuffles |customer| rows on a tiny key
    domain — cost is dominated by the first, which AQE coalesces. This is
    the aggregate-of-aggregate shape the reference never needed (§2.5:
    single-level only).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_count"))
    )
    return (
        per_cust.groupBy("order_count")
        .agg(F.count(F.lit(1)).alias("num_customers"))
        .orderBy(F.desc("num_customers"), F.desc("order_count"))
    )


CUSTOMER_ORDER_DISTRIBUTION_SQL = """
SELECT order_count, COUNT(*) AS num_customers
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS order_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY order_count
ORDER BY num_customers DESC, order_count DESC
"""


# --- Q17 shape: correlated scalar subquery as aggregate-join ----------------


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lines whose quantity is below 20% of
    that part's average quantity. The correlated scalar subquery
    (SELECT avg(l_quantity) WHERE l_partkey = outer.l_partkey) is expressed
    as a per-part pre-aggregate joined back — the rewrite Catalyst would do,
    stated explicitly.

    The threshold compare is kept EXACT: qty*5*cnt < sum(qty) in DECIMAL on
    both engines (avg-as-double could flip the predicate in the last ulp and
    break the oracle hash).

    Scale: the pre-aggregate reduces the build side to |part| rows before
    the join; grouping and join share the partkey partitioning so AQE reuses
    the exchange.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(money("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        li.join(per_part, li.l_partkey == F.col("pk"))
        .filter(money("l_quantity") * 5 * F.col("cnt") < F.col("sum_qty"))
        .agg(
            round2(F.sum(money("l_extendedprice"))).alias("below_avg_revenue"),
            F.count(F.lit(1)).alias("num_lines"),
        )
    )


SMALL_QUANTITY_REVENUE_SQL = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE)
         AS below_avg_revenue,
       COUNT(*) AS num_lines
FROM lineitem
JOIN (
  SELECT l_partkey AS pk,
         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey
) ON l_partkey = pk
WHERE CAST(l_quantity AS DECIMAL(12,2)) * 5 * cnt < sum_qty
"""


# --- Q18 shape: HAVING-filtered semi-join back to headers -------------------


def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 150, joined back
    to customer+orders headers. The IN-(grouped HAVING) subquery becomes an
    aggregate + inner join on orderkey.

    Scale: the HAVING aggregate is the selective step (166 of 1,500 orders
    at sf0.001) — it runs FIRST so only qualifying keys join the headers;
    at 100 TB the qualifying set is small enough that AQE turns the header
    join into a broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.sum(money("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(o, F.col("k") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(100)
    )


LARGE_ORDER_CUSTOMERS_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(total_qty AS DOUBLE) AS total_qty
FROM (
  SELECT l_orderkey AS k, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150
)
JOIN orders ON k = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 100
"""


# --- Q15 shape: aggregate equal to the aggregate's max ----------------------


def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum revenue in a quarter —
    an aggregate compared against the max OF that same aggregate (scalar
    subquery → cross-join of a 1-row broadcast).

    Exact decimal revenue makes the equality safe cross-engine (double
    revenue could make 'the max' engine-dependent in the last ulp).

    Scale: the per-supplier aggregate is |supplier|-sized; its max is one
    row broadcast back — no second scan of lineitem.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    per_supp = li.groupBy(F.col("l_suppkey").alias("sk")).agg(
        F.sum(_revenue()).alias("total_rev")
    )
    max_rev = per_supp.agg(F.max("total_rev").alias("max_rev"))
    return (
        per_supp.join(F.broadcast(max_rev), F.col("total_rev") == F.col("max_rev"))
        .join(s, F.col("sk") == s.s_suppkey)
        .select("s_suppkey", "s_name", round2(F.col("total_rev")).alias("total_revenue"))
        .orderBy("s_suppkey")
    )


TOP_SUPPLIER_REVENUE_SQL = f"""
WITH per_supp AS (
  SELECT l_suppkey AS sk, SUM({_REV}) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_shipdate < TIMESTAMP '1999-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(ROUND(total_rev, 2) AS DOUBLE) AS total_revenue
FROM per_supp
JOIN (SELECT MAX(total_rev) AS max_rev FROM per_supp) ON total_rev = max_rev
JOIN supplier ON sk = s_suppkey
ORDER BY s_suppkey
"""


# --- Q22 flavor: anti-join + global-scalar predicate ------------------------


def q_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 flavor: customers with above-average account balance and NO
    order in the final 7 months of the data — an anti-join plus a global
    scalar aggregate predicate.

    The above-average test is exact: acctbal*count > sum(acctbal) in
    DECIMAL, sidestepping double-avg ulp divergence (same trick as Q17).

    Scale: the anti-join's right side is pre-projected to the single key
    column (orders after the cutoff), so the broadcast carries keys only;
    the 1-row global aggregate cross-joins as a broadcast.
    """
    c = load_table(spark, sf_dir, "customer")
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    stats = c.agg(
        F.sum(money("c_acctbal")).alias("bal_sum"), F.count(F.lit(1)).alias("bal_cnt")
    )
    return (
        c.join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(stats))
        .filter(money("c_acctbal") * F.col("bal_cnt") > F.col("bal_sum"))
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
    )


DORMANT_RICH_CUSTOMERS_SQL = """
SELECT c_custkey, c_name, c_acctbal, c_mktsegment
FROM customer
JOIN (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS bal_sum,
             COUNT(*) AS bal_cnt
      FROM customer) ON TRUE
WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
)
AND CAST(c_acctbal AS DECIMAL(12,2)) * bal_cnt > bal_sum
ORDER BY c_custkey
"""


# --- scalar function families (§2.10 gap: string + date surface) ------------


def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function family over customer — upper/lower, substring,
    concat, length, trim-pad, replace, regexp_extract, split-count. The
    reference touches NO string functions (SURVEY.md §2.10: 'no string
    manipulation'); this is the surface its users would reach for next.
    All JVM-side whole-stage-codegen expressions — zero UDFs.
    """
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("seg_name"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.regexp_extract("c_name", r"(\d+)", 1).alias("name_digits"),
        F.regexp_replace("c_mktsegment", "[AEIOU]", "_").alias("seg_devoweled"),
    ).orderBy("c_custkey")


STRING_FUNCTIONS_SQL = """
SELECT c_custkey,
       UPPER(c_name) AS name_upper,
       SUBSTRING(c_name, 1, 8) AS name_prefix,
       CAST(LENGTH(c_name) AS INTEGER) AS name_len,
       CONCAT_WS('|', c_mktsegment, c_name) AS seg_name,
       LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
       COALESCE(REGEXP_EXTRACT(c_name, '(\\d+)', 1), '') AS name_digits,
       REGEXP_REPLACE(c_mktsegment, '[AEIOU]', '_', 'g') AS seg_devoweled
FROM customer
ORDER BY c_custkey
"""


def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/temporal-function family over orders — extract, trunc, offset
    arithmetic, diffs, month boundaries. The reference's only temporal
    function is ``to_date`` (SURVEY.md §2.10); this covers the rest of the
    calendar surface. (Weekday numbering is deliberately absent: Spark and
    ANSI engines disagree on the week-start convention, so the engine
    exposes ISO date parts only.)
    """
    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        d.alias("order_date"),
        F.year(d).alias("order_year"),
        F.quarter(d).alias("order_quarter"),
        F.month(d).alias("order_month"),
        F.dayofmonth(d).alias("order_day"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.date_add(d, 30).alias("due_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), d).alias("days_to_cutoff"),
    ).orderBy("o_orderkey")


DATE_FUNCTIONS_SQL = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
       CAST(EXTRACT(QUARTER FROM o_orderdate) AS INTEGER) AS order_quarter,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS order_month,
       CAST(EXTRACT(DAY FROM o_orderdate) AS INTEGER) AS order_day,
       CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
       LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
       DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_cutoff
FROM orders
ORDER BY o_orderkey
"""


def q_discount_revenue_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: revenue forgone to discounts in a year-long band filter —
    the canonical full-pushdown aggregate. No join, no groupBy key: every
    predicate (shipdate year, discount band, quantity cap) reaches the
    parquet scan as PushedFilters, the projection prunes to 4 columns, and
    the only exchange is the 1-row partial-agg merge. At 100 TB with
    date-partitioned layout the year filter becomes partition pruning and
    the query touches 1/7th of the files."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            round2(F.sum(money("l_extendedprice") * rate(F.col("l_discount")))).alias(
                "revenue_lift"
            ),
            F.count(F.lit(1)).alias("num_lines"),
        )
    )


DISCOUNT_REVENUE_LIFT_SQL = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue_lift,
       COUNT(*) AS num_lines
FROM lineitem
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_shipping_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLA per order priority: exact p50/p90 of the
    integer day latency plus the share shipped within 7 days — the
    fulfillment-operations KPI the reference's daily summary never
    computes (its pipeline stops at revenue, SURVEY.md §2.5).

    Latency is exact integer days (datediff), so the interpolated
    percentile runs on identical inputs in both engines (snapped at 4 dp,
    the robust_stats discipline); the SLA share is a conditional count
    ratio of exact longs. Scale: orders⨝lineitem shuffles once on
    orderkey, then one priority-keyed aggregate — percentile buffers
    per-group values (approx_percentile is the documented 100-TB swap-in).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = o.join(li, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("days"),
    )
    n = F.count(F.lit(1))
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            n.alias("n_lines"),
            F.percentile("days", F.array(F.lit(0.5), F.lit(0.9))).alias("ps"),
            F.sum(F.when(F.col("days") <= 7, 1).otherwise(0)).cast("long").alias("n_7d"),
        )
        .select(
            "o_orderpriority",
            "n_lines",
            snap_round(F.col("ps")[0], 4).alias("p50_days"),
            snap_round(F.col("ps")[1], 4).alias("p90_days"),
            snap_round(F.col("n_7d") / F.col("n_lines").cast("double"), 6).alias(
                "within_7d_share"
            ),
        )
        .orderBy("o_orderpriority")
    )


SHIPPING_SLA_SQL = """
WITH lat AS (
    SELECT o_orderpriority,
           date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS days
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(ROUND(CAST(quantile_cont(days, 0.5) AS DECIMAL(28,8)), 4) AS DOUBLE)
         AS p50_days,
       CAST(ROUND(CAST(quantile_cont(days, 0.9) AS DECIMAL(28,8)), 4) AS DOUBLE)
         AS p90_days,
       CAST(ROUND(CAST(SUM(CASE WHEN days <= 7 THEN 1 ELSE 0 END)
                       / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE)
         AS within_7d_share
FROM lat
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
