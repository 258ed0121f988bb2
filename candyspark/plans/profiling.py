"""Profiling & approximate-aggregate plans.

Three capabilities a 100-TB pipeline needs that the reference lacks entirely
(SURVEY.md §2.5 "no approximate aggregates", §2.6 windows imported-but-unused
— /root/reference/src/data_processor.py:19):

- ``window_lag_movavg`` — the lag/lead/moving-average/ntile window family
  (the reference imports ``Window`` and never uses it).
- ``approx_aggregates`` — sketch-based aggregation (HyperLogLog distinct,
  approximate percentile). Sketches are THE scale story for distinct counts:
  exact countDistinct shuffles every distinct value; HLL ships a fixed-size
  binary sketch per partition. Sketch outputs are engine-specific, so the
  oracle contract is a tolerance *boolean* computed inside the query —
  deterministic on both engines (the oracle asserts TRUE) while still failing
  the hash if Spark's sketch ever drifts out of tolerance.
- ``profile_lineitem`` — single-pass column profiler (the ``df.summary()``
  shape as an oracle-checked plan): per-column non-null/distinct/min/max/mean
  in ONE aggregate over ONE scan, unpivoted with ``stack``. At 100 TB the
  one-pass property is the point — a naive per-column loop is N full scans.

Money/mean expressions follow the decimal discipline from
candyspark.functions.numeric so cross-engine value-hashes match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from candyspark.functions.numeric import money, round2, snap_round
from candyspark.plans.relational import _revenue
from candyspark.session import remove_at_exit
from candyspark.sources.readers import load_table

# Shared decimal-mean fragment (see plans/relational.py pricing_summary):
# exact decimal sum ÷ count in double, snapped through decimal before the
# 2-dp round so Spark and DuckDB agree at half-cent boundaries.


def _dec_mean(col: str) -> F.Column:
    return (
        F.round(
            (F.sum(money(col)).cast("double") / F.count(col)).cast("decimal(28,8)"), 2
        )
        .cast("double")
    )


def _dec_mean_sql(col: str) -> str:
    return (
        f"CAST(ROUND(CAST(CAST(SUM(CAST({col} AS DECIMAL(12,2))) AS DOUBLE)"
        f" / COUNT({col}) AS DECIMAL(28,8)), 2) AS DOUBLE)"
    )


# --- window family: lag / lead / moving average / ntile ----------------------


def q_window_lag_movavg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order history: previous/next order value (lag/lead),
    3-order moving average (ROWS frame), and spend quartile (ntile).

    One shuffle on o_custkey serves all four window functions (same
    partitioning + ordering → a single Window physical operator). The
    (o_orderdate, o_orderkey) ordering is a total order, so every output is
    a deterministic function of the data — the property the reference's
    allocator lacked (SURVEY.md §2.9 [verified]).
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(-2, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_date"),
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.round(
            (F.sum(money("o_totalprice")).over(wf).cast("double")
             / F.count(F.lit(1)).over(wf)).cast("decimal(28,8)"),
            2,
        )
        .cast("double")
        .alias("movavg3_price"),
        F.ntile(4).over(w).cast("int").alias("spend_quartile"),
    )


WINDOW_LAG_MOVAVG_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       o_totalprice,
       LAG(o_totalprice) OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price,
       CAST(ROUND(CAST(
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER wf AS DOUBLE)
           / COUNT(*) OVER wf AS DECIMAL(28,8)), 2) AS DOUBLE) AS movavg3_price,
       CAST(NTILE(4) OVER w AS INT) AS spend_quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


# --- approximate aggregates (sketches) ---------------------------------------


def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct + approximate median per order priority, verified
    in-plan against their exact counterparts.

    The sketches are what run at 100 TB (fixed-size partial state, no
    distinct-value shuffle, no Expand); the exact forms exist here to bound
    them. Output booleans are the cross-engine contract: DuckDB cannot
    reproduce Spark's HLL register values, but both engines agree that the
    estimate is (or is not) within tolerance of the exact answer.

    Round 4 (the registry-derived bench surfaced this as the slowest
    batch query, 19.3 s): two structural fixes. The exact median bound
    comes from the DISTRIBUTED order-statistic extractor in discrete
    mode (same PERCENTILE_DISC semantics, an actual data value) instead
    of the holistic ``percentile_disc`` aggregate's single-task
    per-group value buffer. And the distinct aggregate runs in its OWN
    groupBy: Spark's distinct-agg rewrite (Expand) degrades a co-planned
    ``approx_percentile`` catastrophically (measured: countDistinct +
    approx_percentile in one agg = 29.3 s; apart = 1.5 s) — the two
    5-row results broadcast-join back together. 19.3 s → ~3 s.
    """
    from candyspark.operators.quantiles import exact_quantiles_grouped

    o = load_table(spark, sf_dir, "orders")
    med = (
        exact_quantiles_grouped(
            spark,
            o.select("o_orderpriority", "o_totalprice"),
            "o_orderpriority",
            "o_totalprice",
            [0.5],
            discrete=True,
        )
        .select("o_orderpriority", F.col("value").alias("_exact_median"))
    )
    distinct_agg = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_custkeys"),
    )
    sketch_agg = o.groupBy("o_orderpriority").agg(
        # rsd=0.01 (vs the 0.05 default): the tolerance below is 5%, so the
        # sketch must be precise enough that a >5% miss is a ~5-sigma event,
        # not a coin flip. Cost: a larger (but still fixed-size) register set.
        F.approx_count_distinct("o_custkey", 0.01).alias("_hll"),
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("_apx_median"),
    )
    agg = distinct_agg.join(F.broadcast(sketch_agg), "o_orderpriority").join(
        F.broadcast(med), "o_orderpriority"
    )
    return agg.select(
        "o_orderpriority",
        "exact_custkeys",
        (
            F.abs(F.col("_hll") - F.col("exact_custkeys"))
            <= 0.05 * F.col("exact_custkeys")
        ).alias("hll_within_5pct"),
        (
            F.abs(F.col("_apx_median") - F.col("_exact_median"))
            <= 0.01 * F.col("_exact_median")
        ).alias("median_within_1pct"),
    ).orderBy("o_orderpriority")


APPROX_AGGREGATES_SQL = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS exact_custkeys,
       TRUE AS hll_within_5pct,
       TRUE AS median_within_1pct
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- single-pass column profiler ---------------------------------------------

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile (non-null count, distinct count, min, max, mean) for
    four lineitem measures — ONE aggregate, ONE scan, then ``stack`` to
    unpivot metrics into rows.

    The multiple exact count-distincts cost one Expand (4× row multiply
    pre-shuffle); that is the price of exact profiling — the approximate
    profiler would swap them for approx_count_distinct (see
    ``q_approx_aggregates`` for how sketches stay oracle-checkable).

    Round 6: the scan is fanned out first — the compact parquet lands in
    ~3 byte-sized splits, serializing the 5× Expand + partial aggregation
    on 3 cores (profiled: 4.9 s in a 3-task stage); the round-robin
    exchange of the four profiled columns buys full-cluster parallelism
    for the Expand and is a no-op at real scale (fan_out contract).
    """
    from candyspark.sources.readers import fan_out

    li = fan_out(load_table(spark, sf_dir, "lineitem").select(*_PROFILE_COLS))
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"n_{c}"),
            F.countDistinct(c).alias(f"d_{c}"),
            F.min(c).alias(f"mn_{c}"),
            F.max(c).alias(f"mx_{c}"),
            _dec_mean(c).alias(f"avg_{c}"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_{c}, d_{c}, mn_{c}, mx_{c}, avg_{c}" for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(column_name, n_nonnull, n_distinct, min_val, max_val, mean_val)"
    ).orderBy("column_name")


PROFILE_LINEITEM_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       COUNT({c}) AS n_nonnull,
       COUNT(DISTINCT {c}) AS n_distinct,
       MIN({c}) AS min_val,
       MAX({c}) AS max_val,
       {_dec_mean_sql(c)} AS mean_val
FROM lineitem"""
    for c in _PROFILE_COLS
) + "\nORDER BY column_name"


def q_join_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from per-key histograms — the planner-side
    arithmetic behind "how big will this join be": for the many-to-many
    clicks⨝purchases-per-user join, |A ⋈ B| = Σ_k cntA(k)·cntB(k),
    computed from ONE conditional-aggregation pass (no join executed),
    alongside the ACTUAL join count as the in-query proof, plus the
    heaviest key's share — the skew number that decides salting before
    anyone pays for the shuffle (operators/skew.py).

    Both counts are exact integers; the share snaps. Scale: the histogram
    pass is one user_id aggregate; the verification join is the only
    expensive branch (and in production you'd run ONLY the histogram —
    that asymmetry is the point).
    """
    e = load_table(spark, sf_dir, "events")
    hist = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("p"),
    )
    pred = hist.agg(
        F.count(F.when((F.col("c") > 0) & (F.col("p") > 0), 1)).alias("n_join_keys"),
        F.sum(F.col("c") * F.col("p")).cast("long").alias("predicted_pairs"),
        F.max(F.col("c") * F.col("p")).cast("long").alias("max_key_pairs"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu")
    )
    actual = c.join(p, F.col("cu") == F.col("pu")).agg(
        F.count(F.lit(1)).alias("actual_pairs")
    )
    return pred.crossJoin(F.broadcast(actual)).select(
        "n_join_keys",
        "predicted_pairs",
        "actual_pairs",
        snap_round(
            F.col("max_key_pairs") / F.col("predicted_pairs").cast("double"), 6
        ).alias("max_key_share"),
    )


JOIN_SIZE_PROFILE_SQL = """
WITH hist AS (
    SELECT user_id,
           SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
    FROM events GROUP BY user_id
),
pred AS (
    SELECT COUNT(CASE WHEN c > 0 AND p > 0 THEN 1 END) AS n_join_keys,
           CAST(SUM(c * p) AS BIGINT) AS predicted_pairs,
           CAST(MAX(c * p) AS BIGINT) AS max_key_pairs
    FROM hist
),
actual AS (
    SELECT COUNT(*) AS actual_pairs
    FROM (SELECT user_id FROM events WHERE event_type = 'click') c
    JOIN (SELECT user_id FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
)
SELECT n_join_keys, predicted_pairs, actual_pairs,
       CAST(ROUND(CAST(CAST(max_key_pairs AS DOUBLE) / predicted_pairs
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS max_key_share
FROM pred CROSS JOIN actual
"""


def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key integrity audit across the schema's declared FK edges:
    for each (child.fk → parent.pk) pair, distinct child keys, how many are
    orphaned (absent from the parent), and the orphaned ROW count — the
    data-quality gate every warehouse load runs before trusting joins
    (an orphan rate > 0 silently turns inner joins into row-droppers).

    Shape for scale: each edge reduces the child to its DISTINCT keys
    first (map-side combined, fixed-width key shuffle), LEFT-ANTI joins
    the parent's key set, and only the (tiny) orphan key set re-joins the
    child for the row count. No edge ever shuffles fact-table payload
    columns. Edges are unioned into one result relation."""
    edges = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    parts = []
    for child, fk, parent, pk in edges:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias("__pk"))
        child_keys = (
            c.filter(F.col(fk).isNotNull())
            .groupBy(F.col(fk).alias("__fk"))
            .agg(F.count(F.lit(1)).alias("__rows"))
        )
        orphans = child_keys.join(
            p, child_keys["__fk"] == p["__pk"], "left_anti"
        )
        parts.append(
            child_keys.agg(
                F.lit(f"{child}.{fk}->{parent}.{pk}").alias("fk_edge"),
                F.count(F.lit(1)).cast("long").alias("distinct_keys"),
            ).crossJoin(
                orphans.agg(
                    F.count(F.lit(1)).cast("long").alias("orphan_keys"),
                    F.coalesce(F.sum("__rows"), F.lit(0))
                    .cast("long")
                    .alias("orphan_rows"),
                )
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out.orderBy("fk_edge")


REFERENTIAL_INTEGRITY_SQL = """
WITH edge AS (
    SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS fk_edge, k.n AS distinct_keys,
           o.nk AS orphan_keys, o.nr AS orphan_rows
    FROM (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n
          FROM lineitem WHERE l_orderkey IS NOT NULL) k,
         (SELECT CAST(COUNT(*) AS BIGINT) AS nk,
                 CAST(COALESCE(SUM(c), 0) AS BIGINT) AS nr
          FROM (SELECT l_orderkey, COUNT(*) AS c FROM lineitem
                WHERE l_orderkey IS NOT NULL GROUP BY l_orderkey) ck
          WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = ck.l_orderkey)) o
    UNION ALL
    SELECT 'lineitem.l_partkey->part.p_partkey', k.n, o.nk, o.nr
    FROM (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n
          FROM lineitem WHERE l_partkey IS NOT NULL) k,
         (SELECT CAST(COUNT(*) AS BIGINT) AS nk,
                 CAST(COALESCE(SUM(c), 0) AS BIGINT) AS nr
          FROM (SELECT l_partkey, COUNT(*) AS c FROM lineitem
                WHERE l_partkey IS NOT NULL GROUP BY l_partkey) ck
          WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = ck.l_partkey)) o
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier.s_suppkey', k.n, o.nk, o.nr
    FROM (SELECT CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n
          FROM lineitem WHERE l_suppkey IS NOT NULL) k,
         (SELECT CAST(COUNT(*) AS BIGINT) AS nk,
                 CAST(COALESCE(SUM(c), 0) AS BIGINT) AS nr
          FROM (SELECT l_suppkey, COUNT(*) AS c FROM lineitem
                WHERE l_suppkey IS NOT NULL GROUP BY l_suppkey) ck
          WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = ck.l_suppkey)) o
    UNION ALL
    SELECT 'orders.o_custkey->customer.c_custkey', k.n, o.nk, o.nr
    FROM (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n
          FROM orders WHERE o_custkey IS NOT NULL) k,
         (SELECT CAST(COUNT(*) AS BIGINT) AS nk,
                 CAST(COALESCE(SUM(c), 0) AS BIGINT) AS nr
          FROM (SELECT o_custkey, COUNT(*) AS c FROM orders
                WHERE o_custkey IS NOT NULL GROUP BY o_custkey) ck
          WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = ck.o_custkey)) o
    UNION ALL
    SELECT 'customer.c_nationkey->nation.n_nationkey', k.n, o.nk, o.nr
    FROM (SELECT CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n
          FROM customer WHERE c_nationkey IS NOT NULL) k,
         (SELECT CAST(COUNT(*) AS BIGINT) AS nk,
                 CAST(COALESCE(SUM(c), 0) AS BIGINT) AS nr
          FROM (SELECT c_nationkey, COUNT(*) AS c FROM customer
                WHERE c_nationkey IS NOT NULL GROUP BY c_nationkey) ck
          WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = ck.c_nationkey)) o
    UNION ALL
    SELECT 'supplier.s_nationkey->nation.n_nationkey', k.n, o.nk, o.nr
    FROM (SELECT CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS n
          FROM supplier WHERE s_nationkey IS NOT NULL) k,
         (SELECT CAST(COUNT(*) AS BIGINT) AS nk,
                 CAST(COALESCE(SUM(c), 0) AS BIGINT) AS nr
          FROM (SELECT s_nationkey, COUNT(*) AS c FROM supplier
                WHERE s_nationkey IS NOT NULL GROUP BY s_nationkey) ck
          WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = ck.s_nationkey)) o
    UNION ALL
    SELECT 'nation.n_regionkey->region.r_regionkey', k.n, o.nk, o.nr
    FROM (SELECT CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) AS n
          FROM nation WHERE n_regionkey IS NOT NULL) k,
         (SELECT CAST(COUNT(*) AS BIGINT) AS nk,
                 CAST(COALESCE(SUM(c), 0) AS BIGINT) AS nr
          FROM (SELECT n_regionkey, COUNT(*) AS c FROM nation
                WHERE n_regionkey IS NOT NULL GROUP BY n_regionkey) ck
          WHERE NOT EXISTS (SELECT 1 FROM region WHERE r_regionkey = ck.n_regionkey)) o
)
SELECT * FROM edge ORDER BY fk_edge
"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-day) and the
    layout-quality audit that justifies it: interleave the two dims'
    8-bit range-normalized coordinates into a 16-bit z-value, split the
    z-sorted relation into 64 equal z-range 'files', and report how
    tightly EACH dimension's min/max span is bounded per file. A 1-D sort
    bounds only its own column (the other column's per-file span stays
    ~the full range); z-order bounds BOTH — which is what makes min/max
    zone-map skipping work for predicates on either column at 100 TB
    (the layout trick behind Delta/Iceberg OPTIMIZE ZORDER, done here as
    pure integer algebra, no engine extension needed).

    Exactness: range normalization, bit interleave (8 shifted-AND terms
    per dim), file split (z >> 10), and the span accounting are all
    integer ops — identical in both engines by construction; the two
    summary ratios snap once.

    Scale: one bounds aggregate (1 row, broadcast back) + one scan that
    computes z in the scan stage + one 64-group aggregate. The z-value
    is exactly what a writer would range-partition on before writing
    parquet (sources/sinks' sortWithinPartitions pattern); file count 64
    stands in for the real file grain.
    """
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    base = orders.select(
        F.col("o_custkey").alias("ck"), day.alias("dy")
    )
    bounds = base.agg(
        F.min("ck").alias("ck_lo"),
        F.max("ck").alias("ck_hi"),
        F.min("dy").alias("dy_lo"),
        F.max("dy").alias("dy_hi"),
    ).localCheckpoint()

    def norm8(c: F.Column, lo: F.Column, hi: F.Column) -> F.Column:
        # 0..255, monotone in c; integer-exact in both engines
        return F.least(
            (((c - lo).cast("bigint") * 256) / (hi - lo + 1).cast("bigint")).cast(
                "bigint"
            ),
            F.lit(255).cast("bigint"),
        ).cast("int")

    withxy = base.crossJoin(F.broadcast(bounds)).select(
        "ck",
        "dy",
        norm8(F.col("ck"), F.col("ck_lo"), F.col("ck_hi")).alias("x"),
        norm8(F.col("dy"), F.col("dy_lo"), F.col("dy_hi")).alias("y"),
    )
    z = None
    for i in range(8):
        xb = F.shiftleft(F.shiftright(F.col("x"), i).bitwiseAND(F.lit(1)), 2 * i)
        yb = F.shiftleft(F.shiftright(F.col("y"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        bit = xb + yb
        z = bit if z is None else z + bit
    filed = withxy.select("ck", "dy", F.shiftright(z, 10).alias("zfile"))
    per_file = filed.groupBy("zfile").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.max("ck") - F.min("ck")).alias("ck_span"),
        (F.max("dy") - F.min("dy")).alias("dy_span"),
    )
    # span ratio vs the full range: how much of each dim a file's zone map
    # covers — lower = better skipping for predicates on that dim
    return (
        per_file.crossJoin(F.broadcast(bounds))
        .select(
            "zfile",
            "n_rows",
            "ck_span",
            "dy_span",
            snap_round(
                F.col("ck_span").cast("double")
                / (F.col("ck_hi") - F.col("ck_lo")).cast("double"),
                6,
            ).alias("ck_span_ratio"),
            snap_round(
                F.col("dy_span").cast("double")
                / (F.col("dy_hi") - F.col("dy_lo")).cast("double"),
                6,
            ).alias("dy_span_ratio"),
        )
        .orderBy("zfile")
    )


_Z_BITS = " + ".join(
    f"(((x >> {i}) & 1) << {2 * i}) + (((y >> {i}) & 1) << {2 * i + 1})"
    for i in range(8)
)

ZORDER_LAYOUT_SQL = f"""
WITH base AS (
    SELECT o_custkey AS ck,
           DATEDIFF('day', DATE '1970-01-01', o_orderdate) AS dy
    FROM orders
),
bounds AS (
    SELECT MIN(ck) AS ck_lo, MAX(ck) AS ck_hi,
           MIN(dy) AS dy_lo, MAX(dy) AS dy_hi
    FROM base
),
withxy AS (
    SELECT ck, dy,
           CAST(LEAST(CAST(CAST(ck - ck_lo AS BIGINT) * 256 AS BIGINT)
                      // CAST(ck_hi - ck_lo + 1 AS BIGINT), 255) AS INT) AS x,
           CAST(LEAST(CAST(CAST(dy - dy_lo AS BIGINT) * 256 AS BIGINT)
                      // CAST(dy_hi - dy_lo + 1 AS BIGINT), 255) AS INT) AS y
    FROM base CROSS JOIN bounds
),
filed AS (
    SELECT ck, dy, ({_Z_BITS}) >> 10 AS zfile FROM withxy
),
per_file AS (
    SELECT zfile, COUNT(*) AS n_rows,
           MAX(ck) - MIN(ck) AS ck_span,
           MAX(dy) - MIN(dy) AS dy_span
    FROM filed GROUP BY zfile
)
SELECT zfile, n_rows, ck_span, dy_span,
       CAST(ROUND(CAST(CAST(ck_span AS DOUBLE) / CAST(ck_hi - ck_lo AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS ck_span_ratio,
       CAST(ROUND(CAST(CAST(dy_span AS DOUBLE) / CAST(dy_hi - dy_lo AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS dy_span_ratio
FROM per_file CROSS JOIN bounds
ORDER BY zfile
"""


# --- functional-dependency audit ---------------------------------------------

_FD_CANDIDATES: list[tuple[str, str, str]] = [
    # (table, determinant, dependent) — a mix that HOLDS (name -> nation:
    # names are unique) and that VIOLATES at several magnitudes, so the
    # report exercises both verdicts.
    ("customer", "c_name", "c_nationkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("part", "p_brand", "p_type"),
]


def q_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate FD ``lhs -> rhs``,
    does the determinant fix the dependent? The data-profiling pass under
    schema discovery, key detection, and denormalization safety checks
    (the join_size_profile / referential_integrity family): before trusting
    ``lhs`` as a grouping grain or dedup key at 100 TB, MEASURE whether it
    determines the columns the rollup will carry along.

    Per FD: one map-side-combined two-level aggregate — group by the
    determinant counting distinct dependents (vocabulary-sized, never
    row-sized output), then collapse to ONE summary row (distinct
    determinants, violating determinants, worst fan-out, violation rate).
    The per-FD relations are unioned; each branch is its own scan+shuffle
    of a dim/fact table, all bounded by the determinant cardinality.
    Violation rate is a ratio of exact longs snapped at 6 dp.
    """
    out = None
    for table, lhs, rhs in _FD_CANDIDATES:
        t = load_table(spark, sf_dir, table)
        per_lhs = t.groupBy(F.col(lhs).alias("k")).agg(
            F.countDistinct(F.col(rhs)).alias("n_rhs")
        )
        summary = per_lhs.agg(
            F.lit(table).alias("table_name"),
            F.lit(f"{lhs} -> {rhs}").alias("fd"),
            F.count(F.lit(1)).alias("n_lhs"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0)).alias(
                "n_violating"
            ),
            F.max("n_rhs").alias("max_rhs_per_lhs"),
        )
        out = summary if out is None else out.unionByName(summary)
    return out.select(
        "table_name",
        "fd",
        "n_lhs",
        "n_violating",
        "max_rhs_per_lhs",
        F.round(
            (F.col("n_violating").cast("double") / F.col("n_lhs").cast("double"))
            .cast("decimal(28,8)"),
            6,
        )
        .cast("double")
        .alias("violation_rate"),
        (F.col("n_violating") == 0).alias("holds"),
    ).orderBy("table_name", "fd")


def _fd_sql() -> str:
    branches = []
    for table, lhs, rhs in _FD_CANDIDATES:
        branches.append(
            f"SELECT '{table}' AS table_name, '{lhs} -> {rhs}' AS fd,\n"
            f"       COUNT(*) AS n_lhs,\n"
            f"       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_violating,\n"
            f"       MAX(n_rhs) AS max_rhs_per_lhs\n"
            f"FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS n_rhs\n"
            f"      FROM {table} GROUP BY {lhs})"
        )
        branches[-1] = f"({branches[-1]})"
    union = "\nUNION ALL\n".join(branches)
    return (
        "WITH per_fd AS (\n" + union + "\n)\n"
        "SELECT table_name, fd, n_lhs, n_violating, max_rhs_per_lhs,\n"
        "       CAST(ROUND(CAST(CAST(n_violating AS DOUBLE) /"
        " CAST(n_lhs AS DOUBLE)\n"
        "            AS DECIMAL(28,8)), 6) AS DOUBLE) AS violation_rate,\n"
        "       n_violating = 0 AS holds\n"
        "FROM per_fd\n"
        "ORDER BY table_name, fd"
    )


FD_VIOLATIONS_SQL = _fd_sql()


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning — the lakehouse maintenance operator
    next to q_zorder_layout: given a file inventory (one row per file with
    its byte size), bin-pack files into ~128 MB rewrite groups so the table
    goes from thousands of small files to scan-efficient ones (the Delta /
    Iceberg OPTIMIZE planning stage). The inventory here is the per-
    (ship-month, returnflag) partition of lineitem with bytes estimated at
    a fixed 128 B/row — a deterministic stand-in for real file metadata
    (the multimodal-stub discipline: the PLANNING algebra is the operator;
    swapping in real file listings changes one input relation).

    Algorithm: next-fit-decreasing as pure window algebra — files ordered
    (bytes DESC, file key) with a running byte prefix, bin id =
    floor(prefix_before / target). One-pass, distributed-friendly, and
    within 2× of optimal like all next-fit variants; a bin can overshoot
    the target by at most one file (the standard compaction contract —
    oversized files stay alone either way).

    Scale: the inventory is METADATA-sized (one row per file — thousands
    of rows for a 100 TB table), so the unpartitioned ordering window runs
    over a relation the size of a file listing, never the data; the data-
    sized work (the rewrite itself) is out of scope by design, exactly as
    in the real systems. All byte math is exact int64.
    """
    li = load_table(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("part_month"),
        "l_returnflag",
    ).agg((F.count(F.lit(1)) * 128).cast("long").alias("bytes"))
    target = 1 * 1024 * 1024  # 1 MiB target at bench SFs; 128 MiB in prod
    w_ord = Window.orderBy(F.desc("bytes"), "part_month", "l_returnflag")
    w_prefix = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    binned = files.select(
        "bytes",
        F.floor(
            F.coalesce(F.sum("bytes").over(w_prefix), F.lit(0))
            / F.lit(target)
        )
        .cast("long")
        .alias("bin_id"),
    )
    return (
        binned.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").cast("long").alias("total_bytes"),
            F.max("bytes").cast("long").alias("largest_file"),
            F.min("bytes").cast("long").alias("smallest_file"),
        )
        .orderBy("bin_id")
    )


COMPACTION_PLAN_SQL = """
WITH files AS (
    SELECT CAST(DATE_TRUNC('month', l_shipdate) AS DATE) AS part_month,
           l_returnflag,
           CAST(COUNT(*) * 128 AS BIGINT) AS bytes
    FROM lineitem
    GROUP BY 1, 2
),
binned AS (
    SELECT bytes,
           CAST(FLOOR(COALESCE(SUM(bytes) OVER (
                    ORDER BY bytes DESC, part_month, l_returnflag
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / 1048576) AS BIGINT) AS bin_id
    FROM files
)
SELECT bin_id,
       COUNT(*) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS total_bytes,
       CAST(MAX(bytes) AS BIGINT) AS largest_file,
       CAST(MIN(bytes) AS BIGINT) AS smallest_file
FROM binned
GROUP BY bin_id
ORDER BY bin_id
"""


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the measurement that DECIDES when the
    skew mitigations fire (salted_aggregation / topk_salted /
    skew_salted_join are the treatments; this is the diagnosis): for each
    shuffled key the engine's big joins use, the key cardinality, the hot
    key's share of all rows, and the p99-to-median frequency ratio. A
    top1_share in the percents or a ratio in the tens means AQE's skew
    split (sort-merge joins only) or an explicit salt is warranted.

    Shape: per key column one map-side-combined (key, cnt) aggregate —
    the frequency relation is KEY-CARDINALITY-sized, and every statistic
    after (max, total, discrete p50/p99 order statistics) aggregates that
    bounded relation; the three profiles union to 3 rows. percentile_disc
    picks ACTUAL frequencies (exact integers cross the engine boundary).
    At 100 TB a deployment samples the scan before the frequency
    aggregate; the statistics algebra is unchanged.
    """
    specs = [
        ("lineitem", "l_partkey"),
        ("orders", "o_custkey"),
        ("events", "user_id"),
    ]
    outs = []
    for table, key in specs:
        freq = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(key).alias("k"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        prof = freq.agg(
            F.lit(table).alias("table_name"),
            F.lit(key).alias("key_col"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.max("cnt").cast("long").alias("top1_cnt"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt)")
            .cast("long")
            .alias("p50_cnt"),
            F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY cnt)")
            .cast("long")
            .alias("p99_cnt"),
        )
        outs.append(prof)
    merged = outs[0]
    for o in outs[1:]:
        merged = merged.unionByName(o)
    return merged.select(
        "table_name",
        "key_col",
        "n_keys",
        "n_rows",
        "top1_cnt",
        "p50_cnt",
        "p99_cnt",
        snap_round(
            F.col("top1_cnt").cast("double") / F.col("n_rows").cast("double"), 6
        ).alias("top1_share"),
        snap_round(
            F.col("p99_cnt").cast("double") / F.col("p50_cnt").cast("double"), 4
        ).alias("p99_over_p50"),
    ).orderBy("table_name")


SKEW_PROFILE_SQL = """
WITH f1 AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY 1),
f2 AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM orders GROUP BY 1),
f3 AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM events GROUP BY 1),
profs AS (
    SELECT 'lineitem' AS table_name, 'l_partkey' AS key_col,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MAX(cnt) AS BIGINT) AS top1_cnt,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt) AS BIGINT) AS p50_cnt,
           CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY cnt) AS BIGINT) AS p99_cnt
    FROM f1
    UNION ALL
    SELECT 'orders', 'o_custkey', CAST(COUNT(*) AS BIGINT), CAST(SUM(cnt) AS BIGINT),
           CAST(MAX(cnt) AS BIGINT),
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt) AS BIGINT),
           CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY cnt) AS BIGINT)
    FROM f2
    UNION ALL
    SELECT 'events', 'user_id', CAST(COUNT(*) AS BIGINT), CAST(SUM(cnt) AS BIGINT),
           CAST(MAX(cnt) AS BIGINT),
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt) AS BIGINT),
           CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY cnt) AS BIGINT)
    FROM f3
)
SELECT table_name, key_col, n_keys, n_rows, top1_cnt, p50_cnt, p99_cnt,
       CAST(ROUND(CAST(CAST(top1_cnt AS DOUBLE) / CAST(n_rows AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS top1_share,
       CAST(ROUND(CAST(CAST(p99_cnt AS DOUBLE) / CAST(p50_cnt AS DOUBLE)
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS p99_over_p50
FROM profs
ORDER BY table_name
"""


def q_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon-entropy profile of the categorical columns a warehouse
    health check watches: for each of four fact/dimension categoricals,
    H = −Σ p·ln p, its normalized form H/ln(k), and the cardinality —
    the one-number 'is this column degenerate / balanced / drifting'
    summary that complements skew_profile (top-key mass) and drift_psi
    (cross-period movement).

    The four column distributions come from ONE conditional-aggregation
    pass per table (never a scan per column); entropy terms are snapped
    to DECIMAL per VALUE before the exact decimal sum (a float Σ over a
    value-ordered frame is accumulation-order-dependent between engines,
    and ln() itself is libm-dependent in the last ulp — the zipf_fit
    discipline).

    Scale: two fact scans (lineitem, orders), each collapsing to a ≤6-row
    value relation map-side; everything after is constant-size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    def pairs(df: DataFrame, cols: list[str]) -> DataFrame:
        # ONE scan per table: a row explodes into its (col, val) pairs —
        # a UNION of per-column selects would re-scan the table per column
        cv = F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("col"), F.col(c).alias("val"))
                    for c in cols
                ]
            )
        )
        return df.select(cv.alias("cv")).select("cv.col", "cv.val")

    dists = (
        pairs(li, ["l_returnflag", "l_linestatus"])
        .unionByName(pairs(o, ["o_orderstatus", "o_orderpriority"]))
        .groupBy("col", "val")
        .agg(F.count(F.lit(1)).cast("long").alias("n_v"))
    )
    whole = Window.partitionBy("col")
    p = F.col("n_v").cast("double") / F.col("n_total").cast("double")
    terms = dists.select(
        "col",
        "n_v",
        F.sum("n_v").over(whole).cast("long").alias("n_total"),
        F.count(F.lit(1)).over(whole).cast("long").alias("k"),
    ).select(
        "col",
        "n_total",
        "k",
        F.round((-p * F.log(p)).cast("decimal(28,12)"), 10).alias("term"),
    )
    ent = F.col("h").cast("double")
    return (
        terms.groupBy("col", "n_total", "k")
        .agg(F.sum("term").alias("h"))
        .select(
            "col",
            F.col("n_total").alias("n_rows"),
            F.col("k").alias("cardinality"),
            snap_round(ent, 6).alias("entropy"),
            # a 1-value column has ln(k)=0: its normalized entropy is 0 by
            # convention (the column is perfectly degenerate)
            F.when(
                F.col("k") > 1,
                snap_round(ent / F.log(F.col("k").cast("double")), 6),
            ).otherwise(F.lit(0.0)).alias("normalized_entropy"),
        )
        .orderBy("col")
    )


ENTROPY_PROFILE_SQL = """
WITH vals AS (
    SELECT 'l_returnflag' AS col, l_returnflag AS val FROM lineitem
    UNION ALL SELECT 'l_linestatus', l_linestatus FROM lineitem
    UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
    UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
),
dists AS (
    SELECT col, val, CAST(COUNT(*) AS BIGINT) AS n_v
    FROM vals GROUP BY col, val
),
terms AS (
    SELECT col,
           CAST(SUM(n_v) OVER (PARTITION BY col) AS BIGINT) AS n_total,
           CAST(COUNT(*) OVER (PARTITION BY col) AS BIGINT) AS k,
           ROUND(CAST(-(CAST(n_v AS DOUBLE) / CAST(SUM(n_v) OVER (PARTITION BY col) AS DOUBLE))
                      * LN(CAST(n_v AS DOUBLE) / CAST(SUM(n_v) OVER (PARTITION BY col) AS DOUBLE))
                 AS DECIMAL(28,12)), 10) AS term
    FROM dists
)
SELECT col, n_total AS n_rows, k AS cardinality,
       CAST(ROUND(CAST(CAST(SUM(term) AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS entropy,
       CASE WHEN k > 1
            THEN CAST(ROUND(CAST(CAST(SUM(term) AS DOUBLE) / LN(CAST(k AS DOUBLE))
                 AS DECIMAL(28,8)), 6) AS DOUBLE)
            ELSE 0.0 END AS normalized_entropy
FROM terms
GROUP BY col, n_total, k
ORDER BY col
"""


def q_mi_feature_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature ranking against the return flag: which
    lineitem attribute carries the most signal about returns - discount
    level, quantity band, line status, or ship weekday? The
    feature-selection read a modeling pipeline runs BEFORE training
    (info_gain_brand answers it for one feature; this ranks the panel),
    expressed through the exact-cell identity MI = G / (2n) shared with
    q_g_test - zero-cell-exact by construction.

    One UNPIVOTED pass: each row emits its four (feature, value) pairs
    via a stack expression, so the (feature, value, label) cell relation
    aggregates in a single map-side-combined shuffle; per-feature margins
    come from the cells. Every term snaps before an exact decimal sum;
    ranks break ties by feature name.

    Scale: cell cardinality is sum of the four features' supports
    (11 + 5 + 2 + 7) x 2 labels - constant at any SF.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.expr(
            "stack(4, "
            " 'discount_cents', CAST(CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS STRING),"
            " 'quantity_band', CAST(CAST(FLOOR((l_quantity - 1) / 10) AS BIGINT) AS STRING),"
            " 'line_status', l_linestatus,"
            " 'ship_dow', CAST(WEEKDAY(l_shipdate) + 1 AS STRING)"
            ") AS (feature, value)"
        ),
        (F.col("l_returnflag") == "R").cast("int").alias("label"),
    )
    cells = pairs.groupBy("feature", "value", "label").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    w_f = Window.partitionBy("feature")
    w_fv = Window.partitionBy("feature", "value")
    w_fl = Window.partitionBy("feature", "label")
    staged = cells.select(
        "feature",
        "o",
        F.sum("o").over(w_f).cast("long").alias("n"),
        F.sum("o").over(w_fv).cast("long").alias("rv"),
        F.sum("o").over(w_fl).cast("long").alias("cl"),
    )
    term = F.round(
        (
            F.col("o").cast("double")
            * F.log(
                F.col("o").cast("double")
                * F.col("n").cast("double")
                / (F.col("rv").cast("double") * F.col("cl").cast("double"))
            )
        ).cast("decimal(28,8)"),
        8,
    ).cast("decimal(28,8)")
    per_feature = staged.groupBy("feature", "n").agg(
        F.sum(term).cast("decimal(38,8)").alias("t_sum"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    mi = snap_round(
        F.col("t_sum").cast("double") / F.col("n").cast("double"), 8
    )
    w_rank = Window.orderBy(F.desc("mi"), "feature")
    return per_feature.select(
        "feature",
        "n_cells",
        mi.alias("mi"),
        snap_round(F.lit(2.0) * F.col("t_sum").cast("double"), 4).alias("g_stat"),
    ).select(
        "feature",
        "n_cells",
        "mi",
        "g_stat",
        F.row_number().over(w_rank).cast("long").alias("rank"),
    ).orderBy("rank")


MI_FEATURE_RANKING_SQL = """
WITH pairs AS (
    SELECT f.feature, f.value,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label
    FROM lineitem,
    LATERAL (VALUES
        ('discount_cents', CAST(CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS VARCHAR)),
        ('quantity_band', CAST(CAST(FLOOR((l_quantity - 1) / 10) AS BIGINT) AS VARCHAR)),
        ('line_status', l_linestatus),
        ('ship_dow', CAST(isodow(l_shipdate) AS VARCHAR))
    ) AS f(feature, value)
),
cells AS (
    SELECT feature, value, label, CAST(COUNT(*) AS BIGINT) AS o
    FROM pairs GROUP BY 1, 2, 3
),
staged AS (
    SELECT feature, o,
           CAST(SUM(o) OVER (PARTITION BY feature) AS BIGINT) AS n,
           CAST(SUM(o) OVER (PARTITION BY feature, value) AS BIGINT) AS rv,
           CAST(SUM(o) OVER (PARTITION BY feature, label) AS BIGINT) AS cl
    FROM cells
),
per_feature AS (
    SELECT feature, n,
           CAST(SUM(CAST(ROUND(CAST(
               CAST(o AS DOUBLE) * LN(CAST(o AS DOUBLE) * n
                   / (CAST(rv AS DOUBLE) * cl))
               AS DECIMAL(28,8)), 8) AS DECIMAL(28,8))) AS DECIMAL(38,8))
               AS t_sum,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM staged GROUP BY 1, 2
),
scored AS (
    SELECT feature, n_cells,
           CAST(ROUND(CAST(CAST(t_sum AS DOUBLE) / n AS DECIMAL(28,8)), 8)
               AS DOUBLE) AS mi,
           CAST(ROUND(CAST(2.0 * CAST(t_sum AS DOUBLE) AS DECIMAL(28,8)), 4)
               AS DOUBLE) AS g_stat
    FROM per_feature
)
SELECT feature, n_cells, mi, g_stat,
       CAST(ROW_NUMBER() OVER (ORDER BY mi DESC, feature) AS BIGINT) AS rank
FROM scored
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# bucketed co-located join — the shuffle-free fact-fact join layout
# ---------------------------------------------------------------------------


def q_bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join with ZERO join-side shuffle via bucketed layout —
    the storage decision that makes a 100-TB lineitem ⨝ orders join
    tractable: both tables are written ``bucketBy(8, key).sortBy(key)``
    into managed tables, so Spark's SortMergeJoin reads co-located,
    pre-sorted buckets and plans NO Exchange (and no Sort) on either
    side. At cluster scale this converts the single most expensive
    shuffle in the schema into a local merge per bucket pair.

    The query then aggregates bucketed-join revenue per order priority —
    one post-join hash aggregate is the only exchange in the whole plan
    (asserted by tests/test_round5_ops.py::test_bucketed_join_plan and
    the committed plan budget). The merge hint pins SMJ so the
    demonstration doesn't silently degrade to a broadcast join at small
    SF. Tables are re-bucketed per call (idempotent overwrite into the
    session warehouse) — at 100 TB the write is a one-time layout cost
    amortized over every downstream co-located join; reruns here keep
    the query self-contained for the driver.

    SURVEY §4.3 names bucketing as the layout decision Catalyst can't
    make for you; this is that decision, executed and plan-verified.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # sanitized per-SF table names: bucket layout is a property of the
    # stored table, so each SF gets its own pair
    # lowercase: Spark stores managed-table directories under the
    # lowercased identifier, and the stale-location cleanup below must
    # target the directory saveAsTable actually writes
    tag = "".join(
        ch if ch.isalnum() else "_" for ch in sf_dir.strip("/")
    ).lower()
    lt, ot = f"b_lineitem_{tag}", f"b_orders_{tag}"
    # a fresh session can inherit a stale warehouse directory without the
    # catalog entry (LOCATION_ALREADY_EXISTS) — drop both table and files
    import os
    import shutil
    from urllib.parse import urlparse

    wh = os.path.abspath(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    for t in (lt, ot):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        target = os.path.abspath(os.path.join(wh, t))
        # never rmtree outside the session warehouse (relative or odd conf)
        if os.path.commonpath([wh, target]) == wh and target != wh:
            shutil.rmtree(target, ignore_errors=True)
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable(lt)
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable(ot)
    lib, ob = spark.table(lt), spark.table(ot)
    rev = _revenue()
    return (
        lib.hint("merge")
        .join(ob.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            round2(F.sum(rev)).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .orderBy("o_orderpriority")
    )


BUCKETED_JOIN_NO_SHUFFLE_SQL = """
SELECT o_orderpriority,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
            * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# partition-pruned scan — the date-partitioned layout demo
# ---------------------------------------------------------------------------


def q_partitioned_scan_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned layout + partition pruning, executed end to end:
    orders re-land partitioned by order month (``partitionBy`` — the
    SURVEY §4.3 layout decision, like bucketing, that Catalyst can't
    make for you), then a one-month revenue query runs against the
    partitioned table and the scan's PartitionFilters prune every other
    month at PLANNING time — zero I/O on 11/12ths of the data, the
    difference between a 100-TB scan and a TB one.

    The month is derived from the data (the max order date's month) so
    the query works at any SF; pruning is asserted by
    tests/test_round5_ops.py (PartitionFilters non-empty + partition
    count read == 1) and the committed scan budget. The re-land is the
    demo's setup cost; a real deployment writes the layout once at
    ingest. Oracle: the same one-month aggregate over the unpartitioned
    table — values must be identical, layout is pure physics."""
    import tempfile

    o = load_table(spark, sf_dir, "orders")
    out = tempfile.mkdtemp(prefix="candyspark_part_orders_")
    remove_at_exit(out)  # the returned frame scans it lazily
    o.withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    ).write.mode("overwrite").partitionBy("order_month").parquet(out)
    try:
        po = spark.read.parquet(out)
    except Exception:  # empty input ⇒ no part files ⇒ schema-stable empty
        return spark.createDataFrame(
            [], "order_month string, n_orders long, revenue double"
        )
    target = po.agg(
        F.date_format(F.max("o_orderdate"), "yyyy-MM").alias("m")
    ).collect()[0].m
    return (
        po.filter(F.col("order_month") == target)
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum(money("o_totalprice")), 2)
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("order_month")
    )


PARTITIONED_SCAN_PRUNING_SQL = """
WITH m AS (SELECT strftime(MAX(o_orderdate), '%Y-%m') AS target FROM orders)
SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
           AS revenue
FROM orders, m
WHERE strftime(o_orderdate, '%Y-%m') = m.target
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Neyman allocation — stratified-sampling design
# ---------------------------------------------------------------------------


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal stratified-sample design for estimating mean line value:
    given a 10,000-row sampling budget over the 11 discount strata,
    Neyman allocation assigns n_h ∝ N_h·σ_h — the design that minimizes
    the estimator variance, vs the proportional n_h ∝ N_h baseline.
    THE pre-step for every 100-TB profiling/eval job that can't afford a
    full pass twice: one exact-moment scan (N_h, Σx, Σx² per stratum in
    DECIMAL — order-free), then the allocation is closed-form on 11 rows.
    Also emits each stratum's share of total variance contribution so the
    reader sees WHY high-σ strata get oversampled. Allocations round
    HALF_UP through decimal (cross-engine), so they may sum to budget ±
    a few rows — real designs round-trip the remainder anyway."""
    li = load_table(spark, sf_dir, "lineitem")
    strata = (
        li.select(
            F.round(F.col("l_discount") * 100, 0).cast("long").alias("stratum"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("x"),
        )
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("x").cast("double").alias("sx"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,4)"))
            .cast("double")
            .alias("sxx"),
        )
    )
    n = F.col("n_rows").cast("double")
    mean = F.col("sx") / n
    sigma = F.sqrt(F.greatest(F.col("sxx") / n - mean * mean, F.lit(0.0)))
    weighted = strata.select(
        "stratum",
        "n_rows",
        F.round(sigma.cast("decimal(28,8)"), 6).cast("decimal(20,6)").alias("sigma6"),
    ).select(
        "stratum",
        "n_rows",
        "sigma6",
        # N_h * snapped sigma: decimal product, exact -> order-free total
        (F.col("n_rows").cast("decimal(19,0)") * F.col("sigma6"))
        .cast("decimal(38,6)")
        .alias("nh_sigma"),
    )
    totals = weighted.agg(
        F.sum("nh_sigma").cast("decimal(38,6)").alias("tot_ns"),
        F.sum("n_rows").cast("long").alias("tot_n"),
    )
    out = weighted.crossJoin(F.broadcast(totals))
    budget = 10000.0
    neyman = budget * F.col("nh_sigma").cast("double") / F.col("tot_ns").cast("double")
    prop = budget * F.col("n_rows").cast("double") / F.col("tot_n").cast("double")
    return out.select(
        "stratum",
        "n_rows",
        F.col("sigma6").cast("double").alias("sigma"),
        F.round(neyman.cast("decimal(28,8)"), 0).cast("long").alias("neyman_n"),
        F.round(prop.cast("decimal(28,8)"), 0).cast("long").alias("proportional_n"),
        F.round(
            (F.col("nh_sigma").cast("double") / F.col("tot_ns").cast("double")).cast(
                "decimal(28,8)"
            ),
            6,
        )
        .cast("double")
        .alias("variance_share"),
    ).orderBy("stratum")


NEYMAN_ALLOCATION_SQL = """
WITH strata AS (
    SELECT CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS stratum,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * CAST(l_extendedprice AS DECIMAL(18,2))
                         AS DECIMAL(38,4))) AS DOUBLE) AS sxx
    FROM lineitem GROUP BY 1
),
weighted AS (
    SELECT stratum, n_rows,
           CAST(ROUND(CAST(SQRT(GREATEST(
               sxx / CAST(n_rows AS DOUBLE)
               - (sx / CAST(n_rows AS DOUBLE)) * (sx / CAST(n_rows AS DOUBLE)),
               0.0)) AS DECIMAL(28,8)), 6) AS DECIMAL(20,6)) AS sigma6
    FROM strata
),
w2 AS (
    SELECT stratum, n_rows, sigma6,
           CAST(CAST(n_rows AS DECIMAL(19,0)) * sigma6 AS DECIMAL(38,6)) AS nh_sigma
    FROM weighted
),
totals AS (
    SELECT CAST(SUM(nh_sigma) AS DECIMAL(38,6)) AS tot_ns,
           CAST(SUM(n_rows) AS BIGINT) AS tot_n
    FROM w2
)
SELECT stratum, n_rows,
       CAST(sigma6 AS DOUBLE) AS sigma,
       CAST(ROUND(CAST(10000.0 * CAST(nh_sigma AS DOUBLE)
            / CAST(tot_ns AS DOUBLE) AS DECIMAL(28,8)), 0) AS BIGINT) AS neyman_n,
       CAST(ROUND(CAST(10000.0 * CAST(n_rows AS DOUBLE)
            / CAST(tot_n AS DOUBLE) AS DECIMAL(28,8)), 0) AS BIGINT)
           AS proportional_n,
       CAST(ROUND(CAST(CAST(nh_sigma AS DOUBLE) / CAST(tot_ns AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS variance_share
FROM w2 CROSS JOIN totals
ORDER BY stratum
"""
