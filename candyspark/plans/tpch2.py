"""Second deep-analytics family: existential/anti subqueries, disjunctive
predicates, global-share HAVING, and multi-way self-joins.

plans/tpch.py covers the join-chain / conditional-agg / agg-of-agg shapes
(Q3/Q8/Q13/Q14/Q15/Q17/Q18/Q22 analogues). This module adds the remaining
classic decision-support shapes a reference user would expect, adapted to
the driver testdata schema (FIXTURES.md §B — no partsupp/commitdate/
receiptdate/shipmode columns, so the Q4/Q9/Q11/Q12/Q21 analogues pick
equivalent predicates over the columns that exist; each docstring states
the substitution):

- Q4  → EXISTS semi-join with a non-equi correlation condition
- Q7  → bilateral nation-pair trade with an OR pair predicate
- Q9  → profit by supplier nation/year with a LIKE part filter
- Q10 → returned-item losses, 4-table join + grouped top-k
- Q11 → per-key share vs a global aggregate (scalar-subquery HAVING)
- Q12 → conditional priority counts over a join
- Q16 → COUNT(DISTINCT) with an anti-joined exclusion list
- Q19 → disjunctive multi-column pushdown predicate
- Q21 → exclusive-fault detection via semi + anti self-joins

Scale posture shared by all of them: correlated subqueries are written as
the join rewrites Catalyst would produce (semi/anti/aggregate-join), so the
100 TB plan is explicit — no nested-loop re-execution per row. EXISTS
becomes LEFT SEMI, NOT EXISTS becomes LEFT ANTI, scalar subqueries become a
broadcast single-row cross join, and per-group correlated aggregates become
aggregate-then-join (shuffle |keys| rows, not |lineitem|). Money follows
the engine decimal discipline (plans/relational.py module docstring) so the
DuckDB oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from candyspark.functions.numeric import money, rate, round2
from candyspark.plans.relational import _REV, _revenue
from candyspark.sources.readers import load_table


# --- Q4 shape: EXISTS with a non-equi correlation ---------------------------


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of 1997 orders that have at least
    one line shipped more than 60 days after the order date. The testdata
    lacks commitdate/receiptdate (FIXTURES.md §B), so the Q4 correlation
    ``l_commitdate < l_receiptdate`` becomes the equivalent non-equi
    correlated EXISTS ``l_shipdate > o_orderdate + 60 days``.

    Scale: EXISTS is a LEFT SEMI join — each order is emitted at most once
    no matter how many late lines it has, and the semi join short-circuits
    per key. The non-equi part rides on the orderkey equi-join (hash
    join + residual filter), not a nested loop. Post-semi the aggregate
    groups |orders| rows on a 5-value key.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORDER_PRIORITY_CHECK_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- Q7 shape: bilateral nation-pair volume ---------------------------------


def q_bilateral_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: yearly shipped revenue between NATION_18 and
    NATION_19 in BOTH directions — the OR-of-two-pairs predicate
    ``(supp=N1 AND cust=N2) OR (supp=N2 AND cust=N1)``. The pair is
    fixture-calibrated: sf0.001's customers concentrate in a few nations,
    and the original NATION_1/NATION_2 pair never trades there, leaving
    the gate empty (the round-2 vacuous-gate sweep); 18↔19 trades at
    every SF.

    Scale: both nation filters broadcast (25-row dim); the pair predicate
    is applied AFTER the two broadcast joins as a residual filter, so the
    only shuffles are the lineitem⨝orders fact join and the final tiny
    aggregate. Catalyst cannot push an OR across two different join inputs
    — writing it post-join is the correct plan, not a compromise.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = F.broadcast(
        n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    )
    sn = F.broadcast(
        n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19")
    ) | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(cn, c.c_nationkey == F.col("cn_key"))
        .join(sn, s.s_nationkey == F.col("sn_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(round2(F.sum(_revenue())).alias("volume"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


BILATERAL_TRADE_VOLUME_SQL = f"""
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS ship_year,
       CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS volume
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE (sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
   OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18')
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# --- Q9 shape: profit by nation/year with LIKE filter -----------------------


def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per supplier-nation per year, profit on widget
    parts. The testdata has no partsupp/ps_supplycost, so cost is modeled
    as 10% of ``p_retailprice`` per unit — the substitution keeps Q9's
    structure (LIKE-filtered part dim, revenue minus a per-unit cost,
    nation/year rollup) with the columns that exist.

    Scale: the LIKE filter prunes part before its join (ride-along with
    partkey equi-join); nation broadcasts. Profit arithmetic stays in exact
    DECIMAL end-to-end — (12,2)*(4,2) products on both factors — so the
    oracle matches exactly.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sn = F.broadcast(
        n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    )
    qty = F.col("l_quantity").cast("decimal(4,2)")
    profit = _revenue() - money("p_retailprice") * rate(F.lit(0.10)) * qty
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(sn, s.s_nationkey == F.col("sn_key"))
        .groupBy("supp_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(round2(F.sum(profit)).alias("profit"))
        .orderBy("supp_nation", F.desc("ship_year"))
    )


PRODUCT_TYPE_PROFIT_SQL = f"""
SELECT sn.n_name AS supp_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS ship_year,
       CAST(ROUND(SUM({_REV}
                       - CAST(p_retailprice AS DECIMAL(12,2))
                         * CAST(0.10 AS DECIMAL(4,2))
                         * CAST(l_quantity AS DECIMAL(4,2))), 2) AS DOUBLE) AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY 1, 2 DESC
"""


# --- Q10 shape: returned-item losses, grouped top-k -------------------------


def q_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the 20 customers with the highest revenue on
    RETURNED lines (l_returnflag = 'R') for orders placed in 1997 Q1 —
    4-table join, per-customer aggregate, deterministic top-k.

    Scale: the returnflag + quarter filters prune both fact inputs at the
    scan; customer joins post-aggregation would be ideal but the group key
    IS the customer, so the join is pre-agg on custkey — AQE picks
    broadcast at bench SF, shuffle at 100 TB. Top-20 is TakeOrdered, no
    global sort.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cn = F.broadcast(
        n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(cn, c.c_nationkey == F.col("cn_key"))
        .groupBy("c_custkey", "c_name", "cust_nation")
        .agg(round2(F.sum(_revenue())).alias("returned_revenue"))
        .orderBy(F.desc("returned_revenue"), "c_custkey")
        .limit(20)
    )


RETURNED_ITEM_LOSSES_SQL = f"""
SELECT c_custkey, c_name, cn.n_name AS cust_nation,
       CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS returned_revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
GROUP BY 1, 2, 3
ORDER BY returned_revenue DESC, c_custkey
LIMIT 20
"""


# --- Q11 shape: per-key share vs global aggregate ---------------------------


def q_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose total traded value exceeds 1.5× the
    AVERAGE part value. The scalar subquery (global SUM + part count)
    becomes a single-row broadcast cross join; the compare stays exact
    DECIMAL by cross-multiplying (``2·n·part > 3·total``) instead of
    dividing.

    The threshold is a ratio-to-average rather than Q11's fixed share of
    the total because a fixed share is NOT scale-free: the average part's
    share shrinks as 1/|parts|, so any fixed cutoff goes vacuous (0 rows)
    once |parts| outgrows it — exactly what happened at sf0.01 with the
    0.1% literal (round-2 verdict). Ratio-to-average selects a stable
    top-value stratum at every scale factor.

    Scale: ONE lineitem scan + one keyed shuffle builds the part-level
    aggregate, which is materialized once (localCheckpoint of a ≤|parts|-row
    relation) and then feeds BOTH the 1-row global total (broadcast is
    free) and the compare — the old form paid a second lineitem scan for
    the scalar subquery. |keys| rows survive to the compare; no per-row
    re-execution of the subquery.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_part = (
        li.groupBy("l_partkey")
        .agg(F.sum(_revenue()).alias("part_value"))
        .localCheckpoint()
    )
    total = per_part.agg(
        F.sum("part_value").alias("total_value"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") * 2 * F.col("n_parts") > F.col("total_value") * 3)
        .select(
            "l_partkey",
            round2(F.col("part_value")).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


IMPORTANT_PART_VALUE_SQL = f"""
WITH pv AS (
  SELECT l_partkey, SUM({_REV}) AS part_value
  FROM lineitem GROUP BY l_partkey
),
t AS (SELECT SUM(part_value) AS total_value, COUNT(*) AS n_parts FROM pv)
SELECT l_partkey, CAST(ROUND(part_value, 2) AS DOUBLE) AS part_value
FROM pv CROSS JOIN t
WHERE part_value * 2 * n_parts > total_value * 3
ORDER BY part_value DESC, l_partkey
"""


# --- Q12 shape: conditional priority counts over a join ---------------------


def q_priority_line_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per line status (standing in for the absent
    l_shipmode — FIXTURES.md §B), how many 1998-shipped lines belong to
    critical (1-URGENT/2-HIGH) vs normal-priority orders — the
    two-complementary-CASE-sums pattern in one pass.

    Scale: date filter pushes to the lineitem scan; the join shuffles on
    orderkey; the aggregate output is 2 rows. One scan, one fact join, one
    tiny agg — the minimal plan for this question.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    critical = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(critical, 1).otherwise(0)).alias("critical_lines"),
            F.sum(F.when(critical, 0).otherwise(1)).alias("normal_lines"),
        )
        .orderBy("l_linestatus")
    )


PRIORITY_LINE_DISTRIBUTION_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS critical_lines,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
            AS BIGINT) AS normal_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# --- Q16 shape: COUNT(DISTINCT) with anti-joined exclusion ------------------


def q_supplier_diversity_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: per (p_type, p_size) for small sizes, how many
    DISTINCT suppliers shipped that part class — excluding a denylist of
    suppliers (here: negative account balance, standing in for Q16's
    complaint-pattern suppliers) via LEFT ANTI join.

    Scale: the exclusion list is an aggregate-free dimension subset →
    broadcast anti join (no shuffle added). COUNT(DISTINCT suppkey)
    expands to a two-level aggregate; the first level shuffles on the
    (type, size, suppkey) triple, pre-deduping map-side.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("bad_suppkey")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == F.col("bad_suppkey"), "left_anti")
        .groupBy("p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_count"))
        .orderBy(F.desc("supplier_count"), "p_type", "p_size")
    )


SUPPLIER_DIVERSITY_BY_PART_SQL = """
SELECT p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_count
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size <= 15
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_type, p_size
ORDER BY supplier_count DESC, p_type, p_size
"""


# --- Q19 shape: disjunctive multi-column predicate --------------------------


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: one revenue scalar over lineitem ⨝ part where the
    predicate is an OR of three (brand, size-range, quantity-range)
    conjunctions — the canonical disjunctive-pushdown stress.

    Scale: the common factor Catalyst can extract (size ≥ 1, quantity
    bounds union) pushes to the scans; the remaining disjunction is a
    post-join residual evaluated in whole-stage codegen. At 100 TB this is
    scan-bound — exactly what a one-pass OR evaluation should be. Single
    output row; no shuffle beyond the final 1-row agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    b = F.col("p_brand")
    branch1 = (b == "Brand#1") & sz.between(1, 10) & q.between(1, 15)
    branch2 = (b == "Brand#2") & sz.between(5, 20) & q.between(10, 25)
    branch3 = (b == "Brand#3") & sz.between(15, 40) & q.between(20, 35)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(branch1 | branch2 | branch3)
        .agg(
            round2(F.sum(_revenue())).alias("revenue"),
            F.count(F.lit(1)).alias("matched_lines"),
        )
    )


DISJUNCTIVE_REVENUE_SQL = f"""
SELECT CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS matched_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 15 AND 40 AND l_quantity BETWEEN 20 AND 35)
"""


# --- Q21 shape: semi + anti self-joins (exclusive fault) --------------------


def q_exclusive_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY supplier with returned
    lines (l_returnflag = 'R', standing in for Q21's receipt-after-commit
    lateness — FIXTURES.md §B) in an order: EXISTS (own returned line) +
    NOT EXISTS (any other supplier's returned line in the same order),
    counted per supplier, top 10.

    Scale: both the EXISTS and NOT EXISTS collapse to self-joins of the
    pre-deduped (orderkey, suppkey) returned-pair set — |pairs| ≪
    |lineitem|. The anti join's inequality rides the orderkey hash join as
    a residual. No correlated re-execution; two shuffles on orderkey that
    AQE co-plans.
    """
    r_pairs = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    others = r_pairs.select(
        F.col("l_orderkey").alias("o_orderkey2"), F.col("l_suppkey").alias("other_suppkey")
    )
    exclusive = r_pairs.join(
        others,
        (r_pairs.l_orderkey == others.o_orderkey2)
        & (r_pairs.l_suppkey != others.other_suppkey),
        "left_anti",
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        exclusive.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("exclusive_return_orders"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", "exclusive_return_orders")
        .orderBy(F.desc("exclusive_return_orders"), "s_name")
        .limit(10)
    )


EXCLUSIVE_RETURN_SUPPLIERS_SQL = """
WITH r_pairs AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem WHERE l_returnflag = 'R'
)
SELECT s_name, COUNT(*) AS exclusive_return_orders
FROM r_pairs r1
JOIN supplier ON r1.l_suppkey = s_suppkey
WHERE NOT EXISTS (
  SELECT 1 FROM r_pairs r2
  WHERE r2.l_orderkey = r1.l_orderkey AND r2.l_suppkey <> r1.l_suppkey
)
GROUP BY s_name
ORDER BY exclusive_return_orders DESC, s_name
LIMIT 10
"""


# --- Q2 shape: correlated MIN subquery as window/top-1 ----------------------


def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per part (small sizes), the supplier with the LOWEST
    total traded value for it. The correlated MIN subquery becomes one
    aggregate + one per-part top-1 window — no re-execution per part. The
    testdata lacks partsupp/ps_supplycost (FIXTURES.md §B); lineitem
    revenue per (part, supplier) stands in as the cost relation.

    Scale: aggregate shuffles (part, supp) pairs — bounded by the pair
    domain, not |lineitem|; the window's per-part top-1 shuffles |pairs|
    on partkey. Tie-break on suppkey pins the oracle hash.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    s = load_table(spark, sf_dir, "supplier")
    pairs = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "p_name", "l_suppkey")
        .agg(F.sum(_revenue()).alias("pair_value"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey").orderBy(F.asc("pair_value"), F.asc("l_suppkey"))
    best = pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.join(s, best.l_suppkey == s.s_suppkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            "s_name",
            round2(F.col("pair_value")).alias("best_value"),
        )
        .orderBy("p_partkey")
    )


CHEAPEST_SUPPLIER_PER_PART_SQL = f"""
WITH pairs AS (
  SELECT l_partkey, p_name, l_suppkey, SUM({_REV}) AS pair_value
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size <= 10
  GROUP BY l_partkey, p_name, l_suppkey
),
best AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey
                               ORDER BY pair_value ASC, l_suppkey ASC) AS rn
  FROM pairs
)
SELECT l_partkey AS p_partkey, p_name, s_name,
       CAST(ROUND(pair_value, 2) AS DOUBLE) AS best_value
FROM best JOIN supplier ON l_suppkey = s_suppkey
WHERE rn = 1
ORDER BY p_partkey
"""


# --- Q20 shape: volume-share semi join --------------------------------------


def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers that shipped MORE THAN A FIFTH of some
    part's total quantity — a per-(part,supplier) aggregate compared
    against its per-part total, then rolled up per supplier. The share
    compare stays exact: qty sums in DECIMAL, ``5·pair > total`` instead
    of a float ratio.

    The 20% cutoff is fixture-calibrated: the synthetic generator spreads
    each part's quantity near-uniformly across suppliers, so the maximum
    observed share is ~25% at sf0.01/sf0.1 and the original >50% literal
    certified an empty result (round-2 verdict's vacuous-gate finding).
    At 20% the gate selects a real dominated-parts stratum at every SF
    while keeping Q20's exact-share-compare shape intact.

    Scale: two aggregates over one scan (pair-level, then part-level
    re-aggregated FROM the pair level — no second lineitem pass), one
    broadcast-able join of pair→part totals, count per supplier. The
    expensive side shrinks to the pair domain immediately.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    pair = li.groupBy("l_partkey", "l_suppkey").agg(F.sum(qty).alias("pair_qty"))
    totals = pair.groupBy("l_partkey").agg(F.sum("pair_qty").alias("part_qty"))
    s = load_table(spark, sf_dir, "supplier")
    dominated = (
        pair.join(totals, "l_partkey")
        .filter(F.col("pair_qty") * 5 > F.col("part_qty"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("dominated_parts"))
    )
    return (
        dominated.join(s, dominated.l_suppkey == s.s_suppkey)
        .select("s_name", "dominated_parts")
        .orderBy(F.desc("dominated_parts"), "s_name")
    )


DOMINANT_SUPPLIERS_SQL = """
WITH pair AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS pair_qty
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
totals AS (
  SELECT l_partkey, SUM(pair_qty) AS part_qty FROM pair GROUP BY l_partkey
)
SELECT s_name, COUNT(*) AS dominated_parts
FROM pair JOIN totals USING (l_partkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE pair_qty * 5 > part_qty
GROUP BY s_name
ORDER BY dominated_parts DESC, s_name
"""


# One SQL string, two engines: Spark decorrelates the per-group correlated
# ORDER BY .. LIMIT into a rank rewrite (the plan a hand-written window
# top-n produces), so the LATERAL surface costs nothing over the idiomatic
# form — no nested-loop, no per-row re-execution.
LATERAL_TOP_NATIONS_SQL = """
WITH nr AS (
    SELECT r_name, n_name,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(4,2))) AS rev
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
)
SELECT r.r_name, top.n_name, top.revenue
FROM (SELECT r_name FROM region) r,
LATERAL (
    SELECT n_name, CAST(ROUND(rev, 2) AS DOUBLE) AS revenue
    FROM nr
    WHERE nr.r_name = r.r_name
    ORDER BY rev DESC, n_name
    LIMIT 2
) top
ORDER BY r.r_name, top.revenue DESC, top.n_name
"""


def q_lateral_top_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 nations per region through a correlated LATERAL subquery with
    ORDER BY + LIMIT — the SQL-standard per-group top-n shape, executed
    from the IDENTICAL string in both engines (like sql_daily_summary, the
    fixpoint-sharing recursive CTE, and the UDTFs: the engine's SQL surface
    is first-class, not a DataFrame veneer)."""
    for t in ("lineitem", "orders", "customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(LATERAL_TOP_NATIONS_SQL)
