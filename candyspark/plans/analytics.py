"""Analytics extensions the reference lacks but a Spark engine user expects
(SURVEY.md §2.5 "no grouping sets / cube", §2.8 "no intersect/except",
§2.13 training-data ops): deterministic sampling, pivot, discrete
percentiles, set operations, cube, and a composite C4-style corpus cleaner.

Every query is oracle-checked (QuerySpec.sql) under the same decimal/money
discipline as plans/relational.py. Cross-engine determinism notes:

- sampling keys on md5 hex (the one hash Spark and DuckDB share bit-for-bit;
  see operators/text.char_hash32) — NOT on rand() or Spark's hash(), which
  are engine-local;
- percentiles use PERCENTILE_DISC (picks an actual row value — no
  interpolation, so no float divergence between engines);
- pivot passes the value list explicitly, which also skips the extra
  distinct-values job Spark otherwise runs (and at 100 TB that job is a full
  scan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from candyspark.operators import text as X
from candyspark.plans.candy import DAILY_SALES_SQL, daily_sales
from candyspark.plans.extensions import _TOKS
from candyspark.functions.numeric import money, round2, snap_round
from candyspark.sources.readers import fan_out, load_table

# --- deterministic hash sampling -------------------------------------------


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~16% deterministic content sample of `documents`: keep rows whose
    md5(text) hex prefix sorts below the threshold. A pure scan-stage
    predicate — no shuffle, no RNG state, reproducible across engines, runs,
    and partitionings (the properties `df.sample`/rand() cannot give), so a
    100-TB sample is re-derivable from the threshold alone. The reference has
    no sampling at all (SURVEY.md §2.7)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "lang", F.md5(F.col("text").cast("binary")).alias("h"))
        .filter(F.col("h") < "29")  # hex prefix: 0x29/0x100 ≈ 16%
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


SAMPLE_HASH_SQL = """
SELECT doc_id, lang
FROM documents
WHERE md5(text) < '29'
ORDER BY doc_id
"""


# --- pivot ------------------------------------------------------------------


def q_pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide aggregation): quantity by return flag × line status.
    The pivot value list is explicit — Spark otherwise runs a separate
    distinct-values job over the full input to discover columns, and the
    resulting schema becomes data-dependent (both wrong at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(money("l_quantity")))
        .select(
            "l_returnflag",
            round2(F.coalesce(F.col("F"), F.lit(0))).alias("qty_f"),
            round2(F.coalesce(F.col("O"), F.lit(0))).alias("qty_o"),
        )
        .orderBy("l_returnflag")
    )


PIVOT_LINESTATUS_SQL = """
SELECT l_returnflag,
       CAST(ROUND(COALESCE(SUM(CASE WHEN l_linestatus = 'F'
            THEN CAST(l_quantity AS DECIMAL(12,2)) END), 0), 2) AS DOUBLE) AS qty_f,
       CAST(ROUND(COALESCE(SUM(CASE WHEN l_linestatus = 'O'
            THEN CAST(l_quantity AS DECIMAL(12,2)) END), 0), 2) AS DOUBLE) AS qty_o
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- discrete percentiles ---------------------------------------------------


def q_percentile_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group order statistics via PERCENTILE_DISC (SQL-standard WITHIN
    GROUP) — discrete quantiles return an actual data value, so Spark and
    DuckDB agree exactly (PERCENTILE_CONT interpolates in float and can
    diverge in the last ulp). At scale this is a sort-based aggregate per
    group; for dashboard-grade answers over 100 TB swap in
    approx_percentile (t-digest sketch, one pass, mergeable) — kept out of
    the oracle set because sketches are engine-specific by construction."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)"
            ).alias("q25"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)"
            ).alias("median"),
            F.expr(
                "percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)"
            ).alias("q90"),
            F.max("l_quantity").alias("max_qty"),
        )
        .orderBy("l_returnflag")
    )


PERCENTILE_QUANTITY_SQL = """
SELECT l_returnflag,
       percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS q25,
       percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS median,
       percentile_disc(0.9)  WITHIN GROUP (ORDER BY l_quantity) AS q90,
       MAX(l_quantity) AS max_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- set operations ---------------------------------------------------------


def q_set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (SURVEY.md §2.8: the reference only unions):
    customers with both urgent and high-priority orders, and urgent-only
    customers, tagged and unioned. Both set ops are distinct-semantics
    (hash shuffle on the key); the two branches reuse the same two scans."""
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    both = urgent.intersect(high).select(F.lit("both").alias("op"), "o_custkey")
    only = urgent.subtract(high).select(  # subtract = EXCEPT DISTINCT
        F.lit("urgent_only").alias("op"), "o_custkey"
    )
    return both.unionByName(only).orderBy("op", "o_custkey")


SET_OPS_CUSTOMERS_SQL = """
SELECT 'both' AS op, o_custkey FROM (
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
)
UNION ALL
SELECT 'urgent_only' AS op, o_custkey FROM (
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
)
ORDER BY op, o_custkey
"""


# --- cube -------------------------------------------------------------------


def q_cube_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (return flag, line status) — all 4 grouping sets in one
    pass (Spark expands to a single Expand + hash aggregate; no re-scan per
    set). grouping_id disambiguates subtotal NULLs from data NULLs, same as
    plans/relational.q_grouping_rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            round2(F.sum(money("l_quantity"))).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_lines"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


CUBE_QTY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_lines,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
"""


# --- composite corpus cleaner (C4-style) ------------------------------------

_QUALITY = """CAST(ROUND(CAST(
      0.4 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
    + 0.3 * (1.0 - least((CASE WHEN length(text) > 0
          THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
          ELSE 0.0 END) * 10.0, 1.0))
    + 0.3 * least((CASE WHEN len(toks) > 0
          THEN CAST(COALESCE(list_sum(list_transform(toks, w -> length(w))), 0) AS DOUBLE) / len(toks)
          ELSE 0.0 END) / 8.0, 1.0)
      AS DECIMAL(28,8)), 4) AS DOUBLE)"""


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data cleaning pipeline (C4-style), one plan:
    quality gate (score ≥ 0.5) → length gate (≥ 10 tokens) → exact dedup on
    normalized text keeping the lowest doc_id. Filters and the score are
    scan-stage expressions (evaluated before the only shuffle), so the dedup
    window shuffles just the survivors; at 100 TB the same plan holds —
    cheap gates first, one hash exchange on the dedup key."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    scored = d.select(
        "doc_id",
        "lang",
        X.quality_score("text").alias("quality_score"),
        X.token_count("text").alias("n_tokens"),
        X.normalized_text("text").alias("norm"),
    ).filter((F.col("quality_score") >= 0.5) & (F.col("n_tokens") >= 10))
    w = Window.partitionBy("norm").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "quality_score", "n_tokens")
        .orderBy("doc_id")
    )


CORPUS_CLEAN_SQL = f"""
WITH t AS (SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents),
scored AS (
    SELECT doc_id, lang,
           {_QUALITY} AS quality_score,
           len(toks) AS n_tokens,
           array_to_string(toks, ' ') AS norm
    FROM t
),
gated AS (SELECT * FROM scored WHERE quality_score >= 0.5 AND n_tokens >= 10),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
    FROM gated
)
SELECT doc_id, lang, quality_score, n_tokens FROM ranked WHERE rn = 1
ORDER BY doc_id
"""


def q_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap filling: daily order counts on a COMPLETE date
    spine (missing days materialized), zero-filled and forward-filled —
    the resampling step every time-series consumer needs before modeling
    (the engine's forecaster assumes a gapless series; the reference just
    had no gaps by luck of its 10 dense days).

    Scale: the spine is sequence(min,max) exploded from ONE row — |days|
    rows regardless of input size; the join is broadcast (spine side is
    tiny); the forward fill is one window pass with a deterministic total
    order. 1998-01 slice keeps the demo spine bounded.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-02-01").cast("timestamp"))
    )
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    spine = daily.agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    ).select(F.explode(F.sequence("lo", "hi")).alias("d"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        spine.join(daily, "d", "left")
        .select(
            F.col("d").alias("day"),
            F.coalesce("n", F.lit(0)).cast("long").alias("orders_zero_filled"),
            F.last("n", ignorenulls=True).over(w).cast("long").alias("orders_carried"),
        )
        .orderBy("day")
    )


GAP_FILL_DAILY_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1998-02-01'
  GROUP BY 1
),
spine AS (
  SELECT UNNEST(generate_series(MIN(d), MAX(d), INTERVAL 1 DAY))::DATE AS d FROM daily
)
SELECT spine.d AS day,
       CAST(COALESCE(n, 0) AS BIGINT) AS orders_zero_filled,
       CAST(LAST_VALUE(n IGNORE NULLS) OVER (ORDER BY spine.d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS orders_carried
FROM spine LEFT JOIN daily ON spine.d = daily.d
ORDER BY day
"""


def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt — the inverse of pivot_linestatus: the three lineitem
    measures melted to long format (orderkey, linenumber, measure, value).
    Scan-stage row expansion (3× rows, no shuffle); long format is what
    generic profilers and chart layers consume."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount"],
            "measure",
            "value",
        )
        .orderBy("l_orderkey", "l_linenumber", "measure")
    )


UNPIVOT_MEASURES_SQL = """
SELECT l_orderkey, l_linenumber, measure, value
FROM (
  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
  FROM lineitem WHERE l_orderkey <= 1000
) UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_discount))
ORDER BY l_orderkey, l_linenumber, measure
"""


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — percent_rank / cume_dist /
    dense_rank per return flag under a pinned total order (quantity,
    orderkey, linenumber): deterministic rank-derived doubles, one window
    shuffle for all three."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.dense_rank().over(w).cast("long").alias("drank"),
    ).orderBy("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")


WINDOW_DISTRIBUTION_SQL = """
SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS drank
FROM lineitem
WHERE l_orderkey <= 2000
WINDOW w AS (PARTITION BY l_returnflag
             ORDER BY l_quantity, l_orderkey, l_linenumber)
ORDER BY l_returnflag, l_quantity, l_orderkey, l_linenumber
"""


def q_rolling_weekly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling window: per event_type daily totals with a
    trailing-7-day rolling sum and event count. RANGE (value-based) frames
    differ from ROWS frames exactly when days are missing — the frame spans
    calendar time, not row count, so gaps shrink the window (the honest
    rolling metric; a ROWS frame silently stretches across gaps).

    Cross-engine form: Spark's rangeBetween needs a numeric ordering key →
    order both engines on epoch days with a [-6, 0] day frame. One shuffle
    on event_type feeds the day rollup AND the window (same partitioning).
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.sum(money("value")).alias("day_value"),
            F.count(F.lit(1)).alias("day_events"),
        )
        .withColumn("epoch_day", F.datediff("day", F.lit("1970-01-01").cast("date")))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("epoch_day")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        round2(F.col("day_value")).alias("day_value"),
        round2(F.sum("day_value").over(w)).alias("rolling_7d_value"),
        F.sum("day_events").over(w).alias("rolling_7d_events"),
    ).orderBy("event_type", "day")


ROLLING_WEEKLY_VALUE_SQL = """
WITH daily AS (
    SELECT event_type,
           CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
           SUM(CAST(value AS DECIMAL(12,2))) AS day_value,
           COUNT(*) AS day_events,
           DATEDIFF('day', DATE '1970-01-01', CAST(DATE_TRUNC('day', ts) AS DATE)) AS epoch_day
    FROM events
    GROUP BY event_type, CAST(DATE_TRUNC('day', ts) AS DATE)
)
SELECT event_type, day,
       CAST(ROUND(day_value, 2) AS DOUBLE) AS day_value,
       CAST(ROUND(SUM(day_value) OVER w, 2) AS DOUBLE) AS rolling_7d_value,
       CAST(SUM(day_events) OVER w AS BIGINT) AS rolling_7d_events
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY epoch_day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY event_type, day
"""


def q_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key aggregation pattern (operators/skew.salted_agg) as a
    driver-checked query: per-event-type totals computed via a two-phase
    (key, salt) partial → key combine. The oracle is the PLAIN single-phase
    aggregate — salting must be semantically invisible (decimal partials
    make the re-combination exact; float partials would drift).

    At 100 TB this is the shape for a grouping key whose top value owns a
    double-digit share of the table: the first shuffle spreads the hot key
    over 16 reducers, the second combines 16 partial rows per key. AQE's
    skew handling covers sort-merge JOINS; skewed AGGREGATIONS need this
    explicit form."""
    from candyspark.operators.skew import salted_agg

    e = load_table(spark, sf_dir, "events")
    out = salted_agg(
        e,
        key_cols=["event_type"],
        unique_col="event_id",
        partial_aggs=[
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("pv"),
        ],
        final_aggs=[
            F.sum("pn").alias("n_events"),
            F.round(F.sum("pv"), 2).cast("double").alias("total_value"),
        ],
        buckets=16,
    )
    return out.orderBy("event_type")


SALTED_AGGREGATION_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its REGION's revenue — a
    window aggregate OVER an aggregate (sum-of-group / sum-over-partition),
    the reporting shape the reference never reaches (its shares are global
    scalars, SURVEY.md §2.5). Revenue pre-sums per orderkey before the join
    chain (the region_revenue lesson: ship |orders| rows, not |lineitem|),
    dims broadcast, then ONE hash aggregate to nation grain and ONE window
    exchange over the 25-row aggregate — the window's input is post-
    aggregation, so its sort is trivial at any SF. Sums stay exact DECIMAL;
    the share ratio goes through double once, at the end."""
    from candyspark.functions.numeric import money, rate

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = money("l_extendedprice") * rate(1 - F.col("l_discount"))
    per_order = li.groupBy("l_orderkey").agg(F.sum(rev).alias("order_rev"))
    per_nation = (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("order_rev").alias("rev"))
    )
    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name",
        "n_name",
        round2(F.col("rev")).alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(w).cast("double"), 6
        ).alias("region_share"),
    ).orderBy("r_name", "n_name")


NATION_REVENUE_SHARE_SQL = """
WITH per_nation AS (
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
SELECT r_name, n_name,
       CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
       ROUND(CAST(rev AS DOUBLE)
             / CAST(SUM(rev) OVER (PARTITION BY r_name) AS DOUBLE), 6) AS region_share
FROM per_nation
ORDER BY r_name, n_name
"""


def q_pareto_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration by customer decile (the Pareto / whale
    curve): customers bucketed into spend deciles, each decile's revenue
    and the cumulative share captured from the top down — the "top 10% of
    customers drive X% of revenue" statement, computed without a global
    sort.

    Deciles come from interpolated percentile CUTOFFS (one buffered
    aggregate over the per-customer spend frame) broadcast back as an
    array; each customer's decile is size(filter(cutoffs, c -> spend > c))
    — pure comparisons against identical doubles in both engines, no
    NTILE (a global-sort single-partition window at row grain). The
    cumulative window then runs over the 10-row decile aggregate.
    approx_percentile is the documented 100-TB cutoff swap-in.
    """
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("spend")
    )
    cuts = spend.agg(
        F.percentile(
            "spend", F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
        ).alias("cuts")
    )
    bucketed = spend.crossJoin(F.broadcast(cuts)).select(
        "spend",
        (
            F.lit(10)
            - F.size(F.filter("cuts", lambda c: F.col("spend") > c))
        ).alias("decile"),  # 1 = top spenders
    )
    agg = bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum(F.col("spend").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue"),
    )
    whole = Window.partitionBy()
    cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        agg.withColumn(
            "cum_share",
            snap_round(
                F.sum("revenue").over(cum) / F.sum("revenue").over(whole), 6
            ),
        )
        .orderBy("decile")
    )


PARETO_REVENUE_SHARE_SQL = """
WITH spend AS (
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend
    FROM orders GROUP BY o_custkey
),
cuts AS (
    SELECT quantile_cont(spend, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cuts
    FROM spend
),
bucketed AS (
    SELECT spend,
           10 - len(list_filter(cuts, c -> spend > c)) AS decile
    FROM spend CROSS JOIN cuts
),
agg AS (
    SELECT decile, COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(spend AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
    FROM bucketed GROUP BY decile
)
SELECT decile, n_customers, revenue,
       CAST(ROUND(CAST(SUM(revenue) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                       / SUM(revenue) OVER () AS DECIMAL(28,8)), 6) AS DOUBLE)
         AS cum_share
FROM agg
ORDER BY decile
"""


def q_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment migration matrix: spend terciles (high/mid/low)
    in the first half of the order history vs the second half, with
    transition counts and row-shares — the churn/upsell movement table
    behind lifecycle marketing (the longitudinal complement of
    rfm_segments' single-point segmentation).

    Both periods are bucketed against the SAME tercile cutoffs (computed
    on first-half spend, broadcast back), so movement means spend change,
    not cutoff change. The period split derives from the data (midpoint
    of min/max epoch day, the drift_psi discipline); customers absent
    from a period land in segment 'none'. All counts exact; shares snap.

    Scale: BOTH periods aggregate in ONE conditional-agg custkey pass
    (sum-when per period — never one scan per period), materialized once
    for its two consumers (tercile cutoffs + bucketing); the matrix is a
    ≤16-row aggregate; cutoffs are a 1-row broadcast (approx_percentile
    is the 100-TB swap-in).
    """
    o = load_table(spark, sf_dir, "orders")
    d = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
    base = o.select(
        "o_custkey",
        d.alias("d"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("p"),
    )
    bounds = base.agg(
        F.floor((F.min("d") + F.max("d")) / 2).alias("mid")
    )
    spend = (
        base.crossJoin(F.broadcast(bounds))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.col("d") <= F.col("mid"), F.col("p")))
            .cast("double")
            .alias("spend_a"),
            F.sum(F.when(F.col("d") > F.col("mid"), F.col("p")))
            .cast("double")
            .alias("spend_b"),
        )
        .localCheckpoint()
    )
    cuts = spend.filter(F.col("spend_a").isNotNull()).agg(
        F.percentile("spend_a", F.array(F.lit(1 / 3), F.lit(2 / 3))).alias("cuts")
    )

    def seg(col: str) -> F.Column:
        return (
            F.when(F.col(col).isNull(), "none")
            .when(F.col(col) > F.col("cuts")[1], "high")
            .when(F.col(col) > F.col("cuts")[0], "mid")
            .otherwise("low")
        )

    joined = spend.crossJoin(F.broadcast(cuts)).select(
        seg("spend_a").alias("seg_from"), seg("spend_b").alias("seg_to")
    )
    per_from = Window.partitionBy("seg_from")
    return (
        joined.groupBy("seg_from", "seg_to")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .withColumn(
            "row_share",
            snap_round(
                F.col("n_customers") / F.sum("n_customers").over(per_from), 6
            ),
        )
        .orderBy("seg_from", "seg_to")
    )


SEGMENT_MIGRATION_SQL = """
WITH base AS (
    SELECT o_custkey,
           date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
           CAST(o_totalprice AS DECIMAL(12,2)) AS p
    FROM orders
),
bounds AS (SELECT CAST(FLOOR((MIN(d) + MAX(d)) / 2.0) AS BIGINT) AS mid FROM base),
spend_a AS (
    SELECT o_custkey, CAST(SUM(p) AS DOUBLE) AS spend_a
    FROM base CROSS JOIN bounds WHERE d <= mid GROUP BY o_custkey
),
spend_b AS (
    SELECT o_custkey, CAST(SUM(p) AS DOUBLE) AS spend_b
    FROM base CROSS JOIN bounds WHERE d > mid GROUP BY o_custkey
),
cuts AS (
    SELECT quantile_cont(spend_a, [0.3333333333333333, 0.6666666666666666]) AS cuts
    FROM spend_a
),
joined AS (
    SELECT CASE WHEN spend_a IS NULL THEN 'none'
                WHEN spend_a > cuts[2] THEN 'high'
                WHEN spend_a > cuts[1] THEN 'mid'
                ELSE 'low' END AS seg_from,
           CASE WHEN spend_b IS NULL THEN 'none'
                WHEN spend_b > cuts[2] THEN 'high'
                WHEN spend_b > cuts[1] THEN 'mid'
                ELSE 'low' END AS seg_to
    FROM spend_a FULL OUTER JOIN spend_b USING (o_custkey)
    CROSS JOIN cuts
)
SELECT seg_from, seg_to, COUNT(*) AS n_customers,
       CAST(ROUND(CAST(CAST(COUNT(*) AS DOUBLE)
                       / SUM(COUNT(*)) OVER (PARTITION BY seg_from)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS row_share
FROM joined
GROUP BY seg_from, seg_to
ORDER BY seg_from, seg_to
"""


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) query: the parts no other part dominates —
    nobody is both cheaper AND at-least-as-large (minimize retail price,
    maximize size; strict in at least one dimension). The classic
    multi-criteria shortlist operator (Börzsönyi et al., "The Skyline
    Operator"), which Spark has no built-in for.

    Distributed 2-D algorithm, never the O(n²) self-join and never a
    global single-partition scan: collapse to per-price grain (max size
    per price — same-price smaller rows are dominated by definition),
    bucket by a PRICE-MONOTONE key so bucket order extends price order
    (the two-phase prefix-bucket rank trick), take the running within-
    bucket max over strictly-lower prices, fold in the cumulative
    maximum of LOWER buckets (a ≤buckets-row window broadcast back), and
    keep prices whose max size beats both. Survivor prices re-join to
    the part table for the full rows (price ties at the max size all
    belong to the front).

    The oracle is the DECLARATIVE contract, not the algorithm: a NOT
    EXISTS dominance anti-join — the two must agree row-for-row.
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_retailprice", "p_size"
    )
    pp = p.groupBy("p_retailprice").agg(F.max("p_size").alias("msize"))
    bucket = F.floor(F.col("p_retailprice") / 100).cast("int")
    wb = (
        Window.partitionBy("b")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bmax = (
        pp.withColumn("b", bucket)
        .groupBy("b")
        .agg(F.max("msize").alias("bucket_max"))
    )
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    prev_bucket = bmax.select(
        "b", F.max("bucket_max").over(wo).alias("prev_bucket_max")
    )
    kept = (
        pp.withColumn("b", bucket)
        .withColumn("local_prev", F.max("msize").over(wb))
        .join(F.broadcast(prev_bucket), "b")
        .filter(
            F.col("msize")
            > F.greatest(
                F.coalesce(F.col("local_prev"), F.lit(-1)),
                F.coalesce(F.col("prev_bucket_max"), F.lit(-1)),
            )
        )
        .select("p_retailprice", "msize")
    )
    return (
        p.join(F.broadcast(kept), "p_retailprice")
        .filter(F.col("p_size") == F.col("msize"))
        .select("p_partkey", "p_name", "p_brand", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


SKYLINE_PARTS_SQL = """
SELECT p_partkey, p_name, p_brand, p_retailprice, p_size
FROM part b
WHERE NOT EXISTS (
    SELECT 1 FROM part a
    WHERE a.p_retailprice <= b.p_retailprice
      AND a.p_size >= b.p_size
      AND (a.p_retailprice < b.p_retailprice OR a.p_size > b.p_size)
)
ORDER BY p_retailprice, p_partkey
"""


def q_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key top-k under key skew, two-phase (operators/skew.salted_topk):
    top-3 orders by price per order priority — only 5 priorities, so every
    key IS hot and the single-window form would sort 1/5 of the table per
    task. The oracle is the PLAIN one-window top-k: the salted split must
    be semantically invisible (every true top-k row survives its bucket's
    phase-1 cut — dropping other rows only improves its bucket rank)."""
    from candyspark.operators.skew import salted_topk

    o = load_table(spark, sf_dir, "orders")
    out = salted_topk(
        o.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        key_cols=["o_orderpriority"],
        order_cols=[F.desc("o_totalprice"), F.asc("o_orderkey")],
        unique_col="o_orderkey",
        k=3,
        buckets=16,
    )
    return out.select("o_orderpriority", "rk", "o_orderkey", "o_totalprice").orderBy(
        "o_orderpriority", "rk"
    )


TOPK_SALTED_SQL = """
SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
    FROM orders
) WHERE rk <= 3
ORDER BY o_orderpriority, rk
"""


def q_rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN smoothing: per event_type daily totals with the
    centered 7-day (±3) median — the robust twin of rolling_weekly_value's
    sum (one outlier day saturates a rolling mean/sum; the median shrugs
    it off, which is why robust smoothers front anomaly detectors). RANGE
    frame on epoch days so calendar gaps SHRINK the window rather than a
    ROWS frame silently stretching across them.

    Exactness: the median interpolates between per-day DECIMAL sums cast
    to double once (exactly representable), so both engines see identical
    frame contents and interpolate identically — one snap at the output.
    Scale: the window runs over the per-(type, day) AGGREGATE (calendar-
    bounded), never raw events; one event_type exchange serves the rollup
    and the window.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(money("value")).alias("day_value"))
        .withColumn("epoch_day", F.datediff("day", F.lit("1970-01-01").cast("date")))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("epoch_day")
        .rangeBetween(-3, 3)
    )
    return daily.select(
        "event_type",
        "day",
        round2(F.col("day_value")).alias("day_value"),
        snap_round(
            F.percentile(F.col("day_value").cast("double"), F.lit(0.5)).over(w), 4
        ).alias("median_7d"),
    ).orderBy("event_type", "day")


ROLLING_MEDIAN_VALUE_SQL = """
WITH daily AS (
    SELECT event_type,
           CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
           SUM(CAST(value AS DECIMAL(12,2))) AS day_value,
           DATEDIFF('day', DATE '1970-01-01', CAST(DATE_TRUNC('day', ts) AS DATE)) AS epoch_day
    FROM events
    GROUP BY event_type, CAST(DATE_TRUNC('day', ts) AS DATE)
)
SELECT event_type, day,
       CAST(ROUND(day_value, 2) AS DOUBLE) AS day_value,
       CAST(ROUND(CAST(quantile_cont(CAST(day_value AS DOUBLE), 0.5) OVER w
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS median_7d
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY epoch_day
             RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
ORDER BY event_type, day
"""


# --- the daily revenue series ------------------------------------------------


def daily_revenue(
    spark: SparkSession, sf_dir: str, day: str | Column = "o_orderdate"
) -> DataFrame:
    """``(day, r)``: order revenue per order date, Σ o_totalprice as exact
    DECIMAL(12,2). Orders collapse to this ≤|calendar| relation first, so
    everything after it is bounded at any SF."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(day)
        .agg(F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("r"))
    )


def revenue_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(t, r)``: :func:`daily_revenue` indexed by PRESENT days (row_number
    over the date order, the convention for gappy business calendars). The
    window is a global sort over that BOUNDED series (same contract as
    histogram_equidepth)."""
    w = Window.orderBy("o_orderdate")
    return daily_revenue(spark, sf_dir).select(F.row_number().over(w).alias("t"), "r")


def centred_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(t, d)``: :func:`revenue_series` centred on its mean.

    Exactness: μ is computed once in double and snapped to 6 dp, so both
    engines center by the same constant; every centered value is then an
    exact DECIMAL(16,6), surfaced as double (values < 2^53-exact range).
    Products of centered values are snapped per TERM (:func:`snap_term`)
    and summed as exact decimals — a raw float sum of ~2,400 products is
    summation-order-dependent, the classic silent mismatch."""
    series = revenue_series(spark, sf_dir)
    mu_stats = series.agg(
        F.round(
            (F.sum("r").cast("double") / F.count(F.lit(1)).cast("double")).cast(
                "decimal(28,8)"
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("mu"),
    )
    return series.crossJoin(F.broadcast(mu_stats)).select(
        "t",
        (F.col("r") - F.col("mu")).cast("decimal(16,6)").cast("double").alias("d"),
    )


def snap_term(p: Column) -> Column:
    """A product of centered values snapped at 6 dp for an exact decimal sum."""
    return F.round(p.cast("decimal(28,8)"), 6)


def lag_sums(ser: DataFrame, lags: DataFrame, *extra: Column) -> DataFrame:
    """``(l, num, *extra)``: Σ_t d_t·d_{t−l} over a :func:`centred_series`
    for each lag ``l`` of the small ``lags`` frame — an equi-join on the
    derived index against the broadcast lags, never a window-per-lag
    re-sort. ``extra`` are further aggregates over the lag pairs."""
    shifted = ser.crossJoin(F.broadcast(lags)).select(
        (F.col("t") + F.col("l")).alias("t"), "l", F.col("d").alias("d2")
    )
    return (
        ser.join(shifted, "t")
        .groupBy("l")
        .agg(F.sum(snap_term(F.col("d") * F.col("d2"))).alias("num"), *extra)
    )


def daily_revenue_sql(day: str = "o_orderdate") -> str:
    """The oracle's ``daily`` CTE (:func:`daily_revenue`), keyed by ``day``."""
    return f"""daily AS (
    SELECT {day}, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS r
    FROM orders GROUP BY 1
)"""


#: ``daily`` plus the day-indexed ``series`` (:func:`revenue_series`).
REVENUE_SERIES_SQL = daily_revenue_sql() + """,
series AS (
    SELECT ROW_NUMBER() OVER (ORDER BY o_orderdate) AS t, r FROM daily
)"""

#: ``daily``, ``series``, ``mu_stats`` and the centred ``ser`` (t, d)
#: (:func:`centred_series`).
CENTRED_SERIES_SQL = REVENUE_SERIES_SQL + """,
mu_stats AS (
    SELECT CAST(ROUND(CAST(CAST(SUM(r) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                AS DECIMAL(28,8)), 6) AS DECIMAL(18,6)) AS mu
    FROM series
),
ser AS (
    SELECT t, CAST(CAST(r - mu AS DECIMAL(16,6)) AS DOUBLE) AS d
    FROM series CROSS JOIN mu_stats
)"""


def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily order-revenue series at lags
    1..7 — the standard pre-forecasting diagnostic (weekday seasonality
    shows as a lag-7 spike; trend as slow decay) that the forecast family
    (forecast_linear / seasonal) acts on. ACF(l) = Σ_t (r_t−μ)(r_{t−l}−μ)
    / Σ_t (r_t−μ)², the series indexed by PRESENT days
    (:func:`revenue_series`).

    Exactness: :func:`centred_series`; the numerator and denominator
    cross the engine boundary as exact values with ONE snapped division
    per lag.

    Scale: :func:`revenue_series` and :func:`lag_sums` against a 7-row
    broadcast of lags. The centered series is materialized once for its
    three consumers (denominator + both join sides).
    """
    # 3 consumers: denominator + both join sides
    ser = centred_series(spark, sf_dir).localCheckpoint()
    den = ser.agg(
        F.sum(snap_term(F.col("d") * F.col("d"))).alias("den"),
        F.count(F.lit(1)).alias("n_days"),
    )
    lags = spark.createDataFrame([(l,) for l in range(1, 8)], "l int")
    num = lag_sums(ser, lags, F.count(F.lit(1)).alias("n_pairs"))
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("l").alias("lag"),
            "n_days",
            "n_pairs",
            snap_round(F.col("num").cast("double") / F.col("den").cast("double"), 6).alias(
                "acf"
            ),
        )
        .orderBy("lag")
    )


ACF_DAILY_REVENUE_SQL = f"""
WITH {CENTRED_SERIES_SQL},
den AS (
    SELECT SUM(ROUND(CAST(d * d AS DECIMAL(28,8)), 6)) AS den,
           COUNT(*) AS n_days
    FROM ser
),
shifted AS (
    SELECT t + l AS t, l, d AS d2
    FROM ser CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS l)
),
num AS (
    SELECT l, SUM(ROUND(CAST(ser.d * shifted.d2 AS DECIMAL(28,8)), 6)) AS num,
           COUNT(*) AS n_pairs
    FROM ser JOIN shifted USING (t)
    GROUP BY l
)
SELECT l AS lag, n_days, n_pairs,
       CAST(ROUND(CAST(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS acf
FROM num CROSS JOIN den
ORDER BY lag
"""


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key JOIN mitigation (operators/skew.salted_broadcast_left)
    as a driver-checked query, completing the skew family: salted
    aggregation (salted_aggregation) → salted per-key top-k (topk_salted)
    → salted replicated join. The oracle is the PLAIN join + aggregate —
    salting must be semantically invisible.

    The hot-key list derives FROM THE DATA (top-20 part keys by line
    count, a TakeOrdered over a keyed aggregate — at 100 TB this comes
    from a sampled count or the shuffle statistics). Hot left rows spread
    over 16 salt buckets; the hot slice of the dimension replicates 16×
    (dimension rows are the cheap side); cold keys keep salt 0 and join
    exactly once. AQE's skew split covers sort-merge joins when runtime
    stats see the skew — this explicit form is for aggregation-input joins
    where the planner's stats hide it (or the engine's AQE is off), and
    the revenue math stays exact DECIMAL through the salted path.
    """
    from candyspark.operators.skew import salted_broadcast_left

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_extendedprice"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    )
    hot = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "l_partkey")
        .limit(20)
        .select("l_partkey")
    )
    joined = salted_broadcast_left(
        li, p, ["l_partkey"], "l_orderkey", hot, buckets=16
    )
    return (
        joined.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("decimal(18,2)")
            .alias("revenue"),
        )
        .select(
            F.col("p_brand").alias("brand"),
            "n_lines",
            F.col("revenue").cast("double").alias("revenue"),
        )
        .orderBy("brand")
    )


SKEW_SALTED_JOIN_SQL = """
SELECT p_brand AS brand,
       COUNT(*) AS n_lines,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
            AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p_brand
ORDER BY brand
"""


def q_pacf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL autocorrelation of the daily revenue series at lags 1..5 —
    the other half of the Box-Jenkins identification pair: ACF
    (q_acf_daily_revenue) reads the MA signature, PACF reads the AR order
    (an AR(p) series shows PACF cutting off after lag p). Computed by the
    Durbin-Levinson recursion UNROLLED over a 1-row array column — the
    logistic_newton discipline applied to a recursion with VECTOR state:
    every step's φ vector is an array on a single broadcastable row, the
    inner products are SEQUENTIAL folds (F.aggregate / list_reduce) over
    ≤4 elements, and each reflection coefficient snaps to 8 dp so both
    engines recurse from identical values.

    The ρ inputs follow the ACF query's exactness contract (shared
    centering snap, per-term decimal snap, one division per lag). Scale:
    orders collapse to the bounded daily series once; everything after
    the 5-row lag aggregate is constant-size algebra.
    """
    ser = centred_series(spark, sf_dir).localCheckpoint()
    den = ser.agg(F.sum(snap_term(F.col("d") * F.col("d"))).alias("den"))
    lags = spark.createDataFrame([(lg,) for lg in range(1, 6)], "l int")
    rho_rows = (
        lag_sums(ser, lags)
        .crossJoin(F.broadcast(den))
        .select(
            "l",
            F.round(
                (F.col("num").cast("double") / F.col("den").cast("double")).cast(
                    "decimal(28,10)"
                ),
                8,
            )
            .cast("double")
            .alias("rho"),
        )
    )
    base = rho_rows.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("l", "rho"))), lambda s: s["rho"]
        ).alias("rho")
        # 1-row checkpoint: the four unrolled steps otherwise carry the whole
        # series→lag-join tree through every chained projection
    ).localCheckpoint()

    def snap8(c):
        return F.round(c.cast("decimal(28,10)"), 8).cast("double")

    rho = F.col("rho")
    # F.get (0-based, NULL out-of-bounds) rather than element_at: under
    # Spark 4's ANSI semantics element_at THROWS on the empty-input case
    # (zero-row series → empty rho array), and the empty gate
    # (tests/test_empty_inputs.py) requires NULL propagation instead
    cur = base.select(
        "rho",
        F.array(F.get(rho, 0)).alias("phi"),
        F.array(F.get(rho, 0)).alias("pacfs"),
    )
    for k in range(2, 6):
        phi = F.col("phi")
        num = F.get(rho, k - 1) - F.aggregate(
            F.sequence(F.lit(1), F.lit(k - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.get(phi, (j - 1).cast("int"))
            * F.get(rho, (F.lit(k) - j - 1).cast("int")),
        )
        dnm = F.lit(1.0) - F.aggregate(
            F.sequence(F.lit(1), F.lit(k - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.get(phi, (j - 1).cast("int")) * F.get(rho, (j - 1).cast("int")),
        )
        # materialize the reflection coefficient as a NAMED column first:
        # embedding the same aggregate-lambda tree both bare (pacfs) and
        # inside the phi-update transform lambda lets common-subexpression
        # elimination pick the REBOUND copy (the outer lambda's j shadows
        # the aggregate's j) — measured as a 5e-6 drift on pacf_2 while the
        # identical step evaluated standalone was exact
        staged = cur.select("rho", "phi", "pacfs", snap8(num / dnm).alias("a"))
        a = F.col("a")
        cur = staged.select(
            "rho",
            F.concat(
                F.transform(
                    F.sequence(F.lit(1), F.lit(k - 1)),
                    lambda j: snap8(
                        F.get(phi, (j - 1).cast("int"))
                        - a * F.get(phi, (F.lit(k) - j - 1).cast("int"))
                    ),
                ),
                F.array(a),
            ).alias("phi"),
            F.concat(F.col("pacfs"), F.array(a)).alias("pacfs"),
        )
    return cur.select(
        F.posexplode("pacfs").alias("lag0", "pacf")
    ).select((F.col("lag0") + 1).cast("int").alias("lag"), "pacf").orderBy("lag")


def _pacf_sql() -> str:
    snap = "CAST(ROUND(CAST({} AS DECIMAL(28,10)), 8) AS DOUBLE)"
    steps = []
    for k in range(2, 6):
        num = (
            f"rho[{k}] - list_reduce(list_transform(range(1, {k}), "
            f"j -> phi[j] * rho[{k} - j]), (a, b) -> a + b)"
        )
        dnm = (
            f"1.0 - list_reduce(list_transform(range(1, {k}), "
            f"j -> phi[j] * rho[j]), (a, b) -> a + b)"
        )
        a = snap.format(f"({num}) / ({dnm})")
        phi_new = (
            f"list_transform(range(1, {k}), j -> "
            + snap.format(f"phi[j] - ({a}) * phi[{k} - j]")
            + f") || [{a}]"
        )
        steps.append(
            f"step{k} AS (SELECT rho, {phi_new} AS phi, "
            f"pacfs || [{a}] AS pacfs FROM step{k - 1})"
        )
    return (
        f"""
WITH {CENTRED_SERIES_SQL},
den AS (
    SELECT SUM(CAST(ROUND(CAST(d * d AS DECIMAL(28,8)), 6) AS DECIMAL(28,6))) AS den
    FROM ser
),
rho_rows AS (
    SELECT l,
           CAST(ROUND(CAST(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                AS DECIMAL(28,10)), 8) AS DOUBLE) AS rho
    FROM (
        SELECT l.l,
               SUM(CAST(ROUND(CAST(a.d * b.d AS DECIMAL(28,8)), 6)
                   AS DECIMAL(28,6))) AS num
        FROM (SELECT CAST(r AS INTEGER) AS l FROM range(1, 6) t(r)) l
        JOIN ser a ON TRUE
        JOIN ser b ON b.t + l.l = a.t
        GROUP BY l.l
    ) CROSS JOIN den
),
step1 AS (
    SELECT list(rho ORDER BY l) AS rho,
           [list(rho ORDER BY l)[1]] AS phi,
           [list(rho ORDER BY l)[1]] AS pacfs
    FROM rho_rows
),"""
        + ",\n".join(steps)
        + """
SELECT CAST(i AS INTEGER) AS lag, pacfs[i] AS pacf
FROM step5, range(1, 6) t(i)
ORDER BY lag
"""
    )


PACF_DAILY_REVENUE_SQL = _pacf_sql()


def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-index numbers per year vs the 1996 base — Laspeyres (base-
    quantity weights), Paasche (current-quantity weights), and Fisher
    (their geometric mean, the superlative index): the economics family
    the engine lacked (inflation/deflator analytics over transactional
    data). Per (year, part) average unit prices and quantities aggregate
    once; the index is a weighted ratio over parts present in BOTH
    periods (matched-sample convention, stated).

    Exactness: unit prices snap to DECIMAL per (year, part) (exact sums
    of snapped per-line unit prices over exact counts, one snap); the
    Σp·q cross terms multiply exact decimals and sum exactly; each index
    is one double division snapped at 6 dp; Fisher is one sqrt on the two
    snapped indices. Scale: one (year, part) aggregate (map-side
    combined), base year broadcast back part-keyed.
    """
    li = load_table(spark, sf_dir, "lineitem")
    yp = (
        li.groupBy(
            F.year("l_shipdate").alias("yr"), F.col("l_partkey").alias("pk")
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"),
            F.sum(
                F.round(
                    (
                        F.col("l_extendedprice").cast("decimal(12,2)")
                        / F.col("l_quantity").cast("decimal(12,2)")
                    ).cast("decimal(28,8)"),
                    6,
                ).cast("decimal(18,6)")
            ).alias("sp"),
            F.count(F.lit(1)).cast("long").alias("nl"),
        )
        .select(
            "yr",
            "pk",
            "q",
            F.round(
                (F.col("sp").cast("double") / F.col("nl").cast("double")).cast(
                    "decimal(28,8)"
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("p"),
        )
        .localCheckpoint()
    )
    base = yp.filter(F.col("yr") == 1996).select(
        "pk", F.col("q").alias("q0"), F.col("p").alias("p0")
    )
    cur = yp.filter(F.col("yr") != 1996)
    j = cur.join(F.broadcast(base), "pk")
    sums = j.groupBy("yr").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(F.col("p") * F.col("q0")).alias("p1q0"),
        F.sum(F.col("p0") * F.col("q0")).alias("p0q0"),
        F.sum(F.col("p") * F.col("q")).alias("p1q1"),
        F.sum(F.col("p0") * F.col("q")).alias("p0q1"),
    )
    lasp = snap_round(
        F.col("p1q0").cast("double") / F.col("p0q0").cast("double"), 6
    )
    paas = snap_round(
        F.col("p1q1").cast("double") / F.col("p0q1").cast("double"), 6
    )
    return sums.select(
        F.col("yr").alias("year"),
        "n_parts",
        lasp.alias("laspeyres"),
        paas.alias("paasche"),
        snap_round(F.sqrt(lasp * paas), 6).alias("fisher"),
    ).orderBy("year")


PRICE_INDEX_SQL = """
WITH yp AS (
    SELECT yr, pk, q,
           CAST(ROUND(CAST(CAST(sp AS DOUBLE) / CAST(nl AS DOUBLE)
                AS DECIMAL(28,8)), 6) AS DECIMAL(18,6)) AS p
    FROM (
        SELECT EXTRACT(year FROM l_shipdate) AS yr,
               l_partkey AS pk,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
               SUM(CAST(ROUND(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                    / CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(28,8)), 6)
                    AS DECIMAL(18,6))) AS sp,
               CAST(COUNT(*) AS BIGINT) AS nl
        FROM lineitem
        GROUP BY 1, 2
    )
),
base AS (SELECT pk, q AS q0, p AS p0 FROM yp WHERE yr = 1996),
j AS (SELECT cur.*, base.q0, base.p0
      FROM (SELECT * FROM yp WHERE yr != 1996) cur JOIN base USING (pk)),
sums AS (
    SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_parts,
           SUM(p * q0) AS p1q0, SUM(p0 * q0) AS p0q0,
           SUM(p * q) AS p1q1, SUM(p0 * q) AS p0q1
    FROM j GROUP BY yr
)
SELECT yr AS year, n_parts,
       CAST(ROUND(CAST(CAST(p1q0 AS DOUBLE) / CAST(p0q0 AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS laspeyres,
       CAST(ROUND(CAST(CAST(p1q1 AS DOUBLE) / CAST(p0q1 AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS paasche,
       CAST(ROUND(CAST(SQRT(
           CAST(ROUND(CAST(CAST(p1q0 AS DOUBLE) / CAST(p0q0 AS DOUBLE)
                AS DECIMAL(28,8)), 6) AS DOUBLE)
           * CAST(ROUND(CAST(CAST(p1q1 AS DOUBLE) / CAST(p0q1 AS DOUBLE)
                AS DECIMAL(28,8)), 6) AS DOUBLE))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS fisher
FROM sums
ORDER BY year
"""


def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market concentration per nation — how
    concentrated each nation's supplier market is: HHI = Σ share² over
    supplier revenue shares (≤0.15 competitive, ≥0.25 concentrated in the
    antitrust convention). Completes the inequality trio's MARKET axis
    (gini: dispersion; pareto/lorenz: cumulative; HHI: concentration).

    Revenue is exact decimal; shares are single double divisions per
    supplier snapped to decimal so the Σshare² per nation is an exact sum
    of snapped squares; one rollup per nation. Scale: one (nation,
    supplier) aggregate, one nation aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "s_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("decimal(18,2)")
            .alias("r")
        )
    )
    w_n = Window.partitionBy("s_nationkey")
    share = F.round(
        (
            F.col("r").cast("double")
            / F.sum("r").over(w_n).cast("double")
        ).cast("decimal(28,10)"),
        8,
    ).cast("decimal(20,8)")
    shared = rev.select("s_nationkey", share.alias("sh"))
    return (
        shared.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            snap_round(
                F.sum(F.col("sh") * F.col("sh")).cast("double"), 6
            ).alias("hhi"),
        )
        .select(
            F.col("s_nationkey").alias("nation"),
            "n_suppliers",
            "hhi",
            (F.col("hhi") > 0.25).alias("concentrated"),
        )
        .orderBy("nation")
    )


HHI_CONCENTRATION_SQL = """
WITH rev AS (
    SELECT s_nationkey, s_suppkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS r
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
),
shared AS (
    SELECT s_nationkey,
           CAST(ROUND(CAST(CAST(r AS DOUBLE)
                / CAST(SUM(r) OVER (PARTITION BY s_nationkey) AS DOUBLE)
                AS DECIMAL(28,10)), 8) AS DECIMAL(20,8)) AS sh
    FROM rev
)
SELECT s_nationkey AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(ROUND(CAST(CAST(SUM(sh * sh) AS DOUBLE) AS DECIMAL(28,8)), 6)
            AS DOUBLE) AS hhi,
       CAST(ROUND(CAST(CAST(SUM(sh * sh) AS DOUBLE) AS DECIMAL(28,8)), 6)
            AS DOUBLE) > 0.25 AS concentrated
FROM shared
GROUP BY s_nationkey
ORDER BY nation
"""


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily-revenue LEVEL series — the
    risk-analytics member beside the trend/seasonality diagnostics: the
    deepest fall from any prior day's revenue level, and when it happened.
    One running-max window over the calendar-bounded daily series (exact
    decimals; the peak/trough ratio is the single snapped division), the
    same bounded-series window contract as forecast_backtest.

    The curve is the per-day revenue level, NOT its cumulative sum: a
    cumulative sum of positive daily revenue is monotone by construction,
    so its drawdown is identically 0 and the gate certifies nothing
    (round-2 verdict's vacuous-gate finding). The level series rises and
    falls for real, so the running-max/argmin-trough logic is exercised.
    """
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily_sales(spark, sf_dir).select("d", F.col("y").cast("decimal(24,2)").alias("c"))
    peaks = cum.select(
        "d",
        "c",
        F.max("c").over(w.orderBy("d")).alias("peak"),
    ).select(
        "d",
        snap_round(
            (F.col("peak") - F.col("c")).cast("double")
            / F.col("peak").cast("double"),
            8,
        ).alias("dd"),
    )
    whole = Window.partitionBy()
    ranked = peaks.select(
        "d", "dd", F.max("dd").over(whole).alias("max_dd")
    )
    return (
        ranked.filter(F.col("dd") == F.col("max_dd"))
        .agg(
            F.min("d").alias("trough_date"),
            F.max("dd").cast("double").alias("max_drawdown"),
        )
    )


MAX_DRAWDOWN_SQL = f"""
WITH {DAILY_SALES_SQL},
cum AS (
    SELECT d, CAST(y AS DECIMAL(24,2)) AS c
    FROM daily
),
peaks AS (
    SELECT d,
           CAST(ROUND(CAST(CAST(MAX(c) OVER w - c AS DOUBLE)
                / CAST(MAX(c) OVER w AS DOUBLE) AS DECIMAL(28,10)), 8)
                AS DOUBLE) AS dd
    FROM cum
    WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT MIN(d) AS trough_date,
       CAST(MAX(dd) AS DOUBLE) AS max_drawdown
FROM (SELECT d, dd, MAX(dd) OVER () AS max_dd FROM peaks)
WHERE dd = max_dd
"""


def q_yule_walker_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) fit of the daily order-revenue series by Yule-Walker: the
    autoregressive coefficients implied by the first two autocorrelations,
        φ₁ = ρ₁(1−ρ₂)/(1−ρ₁²),   φ₂ = (ρ₂−ρ₁²)/(1−ρ₁²),
    plus the innovation-variance ratio 1 − φ₁ρ₁ − φ₂ρ₂ — the forecasting
    family's model-identification step (acf_daily_revenue DESCRIBES the
    memory; this FITS the minimal linear model that reproduces it).

    Exactness: the acf discipline verbatim — snapped μ, DECIMAL-centered
    series, per-term snapped products summed as exact decimals; the two
    lag rows PIVOT into one row by conditional aggregation so ρ₁/ρ₂ and
    the φ algebra are one fixed-order double expression in both engines.

    Scale: orders collapse to the bounded daily series first; one
    window over ≤|calendar| rows, one self-join at two lags.
    """
    ser = centred_series(spark, sf_dir).localCheckpoint()
    den = ser.agg(
        F.sum(snap_term(F.col("d") * F.col("d"))).alias("den"),
        F.count(F.lit(1)).alias("n_days"),
    )
    lags = spark.createDataFrame([(1,), (2,)], "l int")
    nums = (
        lag_sums(ser, lags)
        .agg(
            F.sum(F.when(F.col("l") == 1, F.col("num"))).alias("num1"),
            F.sum(F.when(F.col("l") == 2, F.col("num"))).alias("num2"),
        )
    )
    j = nums.crossJoin(F.broadcast(den))
    rho1 = F.round(
        (F.col("num1").cast("double") / F.col("den").cast("double")).cast(
            "decimal(28,8)"
        ),
        6,
    ).cast("double")
    rho2 = F.round(
        (F.col("num2").cast("double") / F.col("den").cast("double")).cast(
            "decimal(28,8)"
        ),
        6,
    ).cast("double")
    staged = j.select(
        "n_days", rho1.alias("rho1"), rho2.alias("rho2")
    )
    phi1 = F.col("rho1") * (F.lit(1.0) - F.col("rho2")) / (
        F.lit(1.0) - F.col("rho1") * F.col("rho1")
    )
    phi2 = (F.col("rho2") - F.col("rho1") * F.col("rho1")) / (
        F.lit(1.0) - F.col("rho1") * F.col("rho1")
    )
    return staged.select(
        "n_days",
        "rho1",
        "rho2",
        snap_round(phi1, 6).alias("phi1"),
        snap_round(phi2, 6).alias("phi2"),
        snap_round(
            F.lit(1.0) - phi1 * F.col("rho1") - phi2 * F.col("rho2"), 6
        ).alias("innovation_ratio"),
    )


YULE_WALKER_AR2_SQL = f"""
WITH {CENTRED_SERIES_SQL},
den AS (
    SELECT SUM(ROUND(CAST(d * d AS DECIMAL(28,8)), 6)) AS den,
           COUNT(*) AS n_days
    FROM ser
),
shifted AS (
    SELECT t + l AS t, l, d AS d2
    FROM ser CROSS JOIN (SELECT unnest([1, 2]) AS l)
),
nums AS (
    SELECT SUM(CASE WHEN l = 1 THEN num END) AS num1,
           SUM(CASE WHEN l = 2 THEN num END) AS num2
    FROM (
        SELECT l, SUM(ROUND(CAST(ser.d * shifted.d2 AS DECIMAL(28,8)), 6)) AS num
        FROM ser JOIN shifted USING (t)
        GROUP BY l
    )
),
rho AS (
    SELECT n_days,
           CAST(ROUND(CAST(CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE)
                AS DECIMAL(28,8)), 6) AS DOUBLE) AS rho1,
           CAST(ROUND(CAST(CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE)
                AS DECIMAL(28,8)), 6) AS DOUBLE) AS rho2
    FROM nums CROSS JOIN den
)
SELECT n_days, rho1, rho2,
       CAST(ROUND(CAST(rho1 * (1.0 - rho2) / (1.0 - rho1 * rho1)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS phi1,
       CAST(ROUND(CAST((rho2 - rho1 * rho1) / (1.0 - rho1 * rho1)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS phi2,
       CAST(ROUND(CAST(1.0 - (rho1 * (1.0 - rho2) / (1.0 - rho1 * rho1)) * rho1
                           - ((rho2 - rho1 * rho1) / (1.0 - rho1 * rho1)) * rho2
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS innovation_ratio
FROM rho
"""


# cos/sin of 2πk/7 as shortest-roundtrip literals — BOTH engines receive the
# same IEEE double by construction (libm cos/sin may differ in the last ulp
# between the JVM and DuckDB, so neither engine computes trig at runtime)
import math as _math  # noqa: E402

_COS7 = [_math.cos(2 * _math.pi * k / 7) for k in range(7)]
_SIN7 = [_math.sin(2 * _math.pi * k / 7) for k in range(7)]


def q_weekly_spectral_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral power of the daily-revenue series at the weekly frequency —
    the single-bin DFT (Goertzel-style) seasonality detector: C = Σ d_t·cos
    (2πt/7), S = Σ d_t·sin(2πt/7) over the demeaned series, weekly
    amplitude A = 2√(C²+S²)/n, and the fraction of series variance the
    weekly sinusoid explains. The frequency-domain twin of
    seasonal_decompose/acf (a lag-7 ACF spike and a big lag-7 power bin
    are the same physics, measured two ways).

    Exactness: the acf discipline (snapped μ, decimal-centered d, per-term
    snapped products, exact decimal sums) + trig as shared LITERALS (see
    _COS7 — runtime cos() is libm-dependent). The final amplitude/fraction
    assemble in one double expression.

    Scale: orders → bounded daily series; one pass over it.
    """
    phase = ((F.col("t") - 1) % 7 + 1).cast("int")
    ser = centred_series(spark, sf_dir).select(
        "d",
        F.element_at(F.array(*[F.lit(c) for c in _COS7]), phase).alias("c7"),
        F.element_at(F.array(*[F.lit(s) for s in _SIN7]), phase).alias("s7"),
    )
    sums = ser.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(snap_term(F.col("d") * F.col("c7"))).alias("c"),
        F.sum(snap_term(F.col("d") * F.col("s7"))).alias("s"),
        F.sum(snap_term(F.col("d") * F.col("d"))).alias("ss"),
    )
    n = F.col("n_days").cast("double")
    c = F.col("c").cast("double")
    s = F.col("s").cast("double")
    power = c * c + s * s
    return sums.select(
        "n_days",
        snap_round(F.lit(2.0) * F.sqrt(power) / n, 4).alias("weekly_amplitude"),
        snap_round(
            F.lit(2.0) * power / (n * F.col("ss").cast("double")), 6
        ).alias("variance_fraction"),
    )


_C7_LIT = "[" + ", ".join(repr(c) for c in _COS7) + "]"
_S7_LIT = "[" + ", ".join(repr(s) for s in _SIN7) + "]"

WEEKLY_SPECTRAL_POWER_SQL = f"""
WITH {CENTRED_SERIES_SQL},
ser7 AS (
    SELECT d,
           ({_C7_LIT})[CAST((t - 1) % 7 + 1 AS INTEGER)] AS c7,
           ({_S7_LIT})[CAST((t - 1) % 7 + 1 AS INTEGER)] AS s7
    FROM ser
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           SUM(ROUND(CAST(d * c7 AS DECIMAL(28,8)), 6)) AS c,
           SUM(ROUND(CAST(d * s7 AS DECIMAL(28,8)), 6)) AS s,
           SUM(ROUND(CAST(d * d AS DECIMAL(28,8)), 6)) AS ss
    FROM ser7
)
SELECT n_days,
       CAST(ROUND(CAST(2.0 * SQRT(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)
                                  + CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / CAST(n_days AS DOUBLE)
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS weekly_amplitude,
       CAST(ROUND(CAST(2.0 * (CAST(c AS DOUBLE) * CAST(c AS DOUBLE)
                              + CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / (CAST(n_days AS DOUBLE) * CAST(ss AS DOUBLE))
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS variance_fraction
FROM sums
"""


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily order-revenue series — the
    NONPARAMETRIC significance companion to theilsen_trend's slope (same
    rank-based machinery; Theil-Sen estimates the trend, Mann-Kendall says
    whether it exists): S = Σ_{i<j} sign(r_j − r_i) over the date-ordered
    series, Var(S) with the standard tie correction, and the ±1
    continuity-corrected z against the 1.96 two-sided bound.

    Exactness: daily revenues are exact DECIMAL sums, so every pairwise
    sign is engine-exact (no float comparisons anywhere); S, n, and the
    tie spectrum are exact integers; the ONLY doubles are the closed-form
    Var(S) and z at the end — identical IEEE expressions on identical
    integer inputs, then one 6-dp snap.

    Scale: orders collapse to the ≤|calendar| daily relation first (the
    acf/theilsen contract) — the pairwise self-join is CALENDAR-bounded
    (~2.4k days → ~3M comparisons at ANY SF, and it runs as one broadcast
    join + map-side sign-sum, no quadratic row-count term in the fact
    table)."""
    # 3 consumers: both pair sides + the tie spectrum
    daily = daily_revenue(spark, sf_dir).localCheckpoint()
    a = daily.select(F.col("o_orderdate").alias("d1"), F.col("r").alias("r1"))
    b = daily.select(F.col("o_orderdate").alias("d2"), F.col("r").alias("r2"))
    pairs = a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
    s_n = pairs.agg(
        F.sum(F.signum((F.col("r2") - F.col("r1")).cast("double")).cast("long"))
        .alias("s_stat")
    ).crossJoin(
        F.broadcast(daily.agg(F.count(F.lit(1)).alias("n_days")))
    )
    ties = (
        daily.groupBy("r")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ).cast("long"),
                F.lit(0).cast("long"),
            ).alias("tie_term")
        )
    )
    nn = F.col("n_days").cast("double")
    var_s = (
        nn * (nn - 1.0) * (2.0 * nn + 5.0) - F.col("tie_term").cast("double")
    ) / 18.0
    z = F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1).cast("double") / F.sqrt(var_s)) \
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1).cast("double") / F.sqrt(var_s)) \
        .otherwise(F.lit(0.0))
    zs = snap_round(z, 6)
    return s_n.crossJoin(F.broadcast(ties)).select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("s_stat").cast("bigint").alias("s_stat"),
        F.col("tie_term").cast("bigint").alias("tie_term"),
        snap_round(var_s, 4).alias("var_s"),
        zs.alias("z"),
        F.when(zs > 1.96, "increasing")
        .when(zs < -1.96, "decreasing")
        .otherwise("no_trend")
        .alias("trend"),
    )


MANN_KENDALL_SQL = f"""
WITH {daily_revenue_sql("o_orderdate AS d")},
s AS (
    SELECT CAST(SUM(CAST(SIGN(CAST(b.r - a.r AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s_stat
    FROM daily a JOIN daily b ON a.d < b.d
),
n AS (SELECT COUNT(*) AS n_days FROM daily),
ties AS (
    SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0) AS tie_term
    FROM (SELECT COUNT(*) AS t FROM daily GROUP BY r) WHERE t > 1
),
calc AS (
    SELECT n.n_days, s.s_stat, ties.tie_term,
           (CAST(n.n_days AS DOUBLE) * (CAST(n.n_days AS DOUBLE) - 1.0)
            * (2.0 * CAST(n.n_days AS DOUBLE) + 5.0)
            - CAST(ties.tie_term AS DOUBLE)) / 18.0 AS var_s
    FROM s CROSS JOIN n CROSS JOIN ties
),
zc AS (
    SELECT n_days, s_stat, tie_term, var_s,
           CAST(ROUND(CAST(
               CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / SQRT(var_s)
                    WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / SQRT(var_s)
                    ELSE 0.0 END
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS z
    FROM calc
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       s_stat,
       tie_term,
       CAST(ROUND(CAST(var_s AS DECIMAL(28,8)), 4) AS DOUBLE) AS var_s,
       z,
       CASE WHEN z > 1.96 THEN 'increasing'
            WHEN z < -1.96 THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM zc
"""


def q_chow_break_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test on the daily-revenue trend at the series
    midpoint: does one OLS line y = a + b·t fit the whole calendar, or do
    the two halves demand different lines? F = ((SSR_p − SSR₁ − SSR₂)/k) /
    ((SSR₁+SSR₂)/(n−2k)), k = 2 — the REGRESSION-form break test next to
    cusum_changepoint's mean-shift detector and the RD design's known
    cutoff (this one asks about a hypothesized break date, here the
    midpoint).

    Exactness: the daily series is exact decimal; per-half sufficient
    statistics (n, Σt, Σy, Σt², Σy², Σty) come from ONE conditional
    aggregate over the row_number-indexed series (the acf/theilsen
    calendar-bounded global-window contract); pooled stats are the sums
    of the halves, every SSR is the identical IEEE expression, one 4-dp
    snap on F."""
    idx = revenue_series(spark, sf_dir).select(
        "t", F.col("r").cast("decimal(20,2)").alias("y")
    )
    n_all = idx.agg(F.count(F.lit(1)).alias("n_tot"))
    half = F.col("t") <= F.col("n_tot") / 2
    td = F.col("t").cast("decimal(20,2)")
    stats = (
        idx.crossJoin(F.broadcast(n_all))
        .withColumn("h", F.when(half, 1).otherwise(2))
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(td).alias("st"),
            F.sum("y").alias("sy"),
            F.sum(td * td).alias("stt"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(td * F.col("y")).alias("sty"),
        )
    )

    def ssr(n, st, sy, stt, syy, sty):
        nd = n.cast("double")
        stt_c = stt.cast("double") - st.cast("double") * st.cast("double") / nd
        syy_c = syy.cast("double") - sy.cast("double") * sy.cast("double") / nd
        sty_c = sty.cast("double") - st.cast("double") * sy.cast("double") / nd
        return syy_c - sty_c * sty_c / stt_c

    h1 = stats.filter(F.col("h") == 1).select(
        *[F.col(c).alias(c + "1") for c in ("n", "st", "sy", "stt", "syy", "sty")]
    )
    h2 = stats.filter(F.col("h") == 2).select(
        *[F.col(c).alias(c + "2") for c in ("n", "st", "sy", "stt", "syy", "sty")]
    )
    j = h1.crossJoin(F.broadcast(h2))
    ssr1 = ssr(F.col("n1"), F.col("st1"), F.col("sy1"), F.col("stt1"), F.col("syy1"), F.col("sty1"))
    ssr2 = ssr(F.col("n2"), F.col("st2"), F.col("sy2"), F.col("stt2"), F.col("syy2"), F.col("sty2"))
    ssrp = ssr(
        F.col("n1") + F.col("n2"),
        F.col("st1") + F.col("st2"),
        F.col("sy1") + F.col("sy2"),
        F.col("stt1") + F.col("stt2"),
        F.col("syy1") + F.col("syy2"),
        F.col("sty1") + F.col("sty2"),
    )
    nd = (F.col("n1") + F.col("n2")).cast("double")
    syy_p = (F.col("syy1") + F.col("syy2")).cast("double") - (
        F.col("sy1") + F.col("sy2")
    ).cast("double") * (F.col("sy1") + F.col("sy2")).cast("double") / nd
    # numerically-zero unrestricted SSR (a perfect per-half fit) makes F
    # undefined: report NULL and decide the break on the restricted-vs-
    # unrestricted gap instead — both engines branch on identical doubles
    thresh = F.lit(1e-9) * syy_p
    ssr_u = ssr1 + ssr2
    f_raw = ((ssrp - ssr_u) / 2.0) / (ssr_u / (nd - 4.0))
    f_stat = F.when(ssr_u > thresh, snap_round(f_raw, 4))
    brk = F.when(ssr_u > thresh, snap_round(f_raw, 4) > 3.0).otherwise(
        ssrp - ssr_u > thresh
    )
    return j.select(
        (F.col("n1") + F.col("n2")).cast("bigint").alias("n_days"),
        F.col("n1").cast("bigint").alias("n_first_half"),
        f_stat.alias("f_stat"),
        brk.alias("structural_break"),
    )


CHOW_BREAK_TEST_SQL = f"""
WITH {REVENUE_SERIES_SQL},
idx AS (SELECT t, CAST(r AS DECIMAL(20,2)) AS y FROM series),
n_all AS (SELECT COUNT(*) AS n_tot FROM idx),
stats AS (
    SELECT CASE WHEN t <= n_tot / 2 THEN 1 ELSE 2 END AS h,
           COUNT(*) AS n,
           SUM(CAST(t AS DECIMAL(20,2))) AS st,
           SUM(y) AS sy,
           SUM(CAST(t AS DECIMAL(20,2)) * CAST(t AS DECIMAL(20,2))) AS stt,
           SUM(y * y) AS syy,
           SUM(CAST(t AS DECIMAL(20,2)) * y) AS sty
    FROM idx CROSS JOIN n_all
    GROUP BY 1
),
j AS (
    SELECT
      h1.n AS n1, h1.st AS st1, h1.sy AS sy1, h1.stt AS stt1, h1.syy AS syy1, h1.sty AS sty1,
      h2.n AS n2, h2.st AS st2, h2.sy AS sy2, h2.stt AS stt2, h2.syy AS syy2, h2.sty AS sty2
    FROM (SELECT * FROM stats WHERE h = 1) h1
    CROSS JOIN (SELECT * FROM stats WHERE h = 2) h2
),
calc AS (
    SELECT n1, n2,
      CAST(syy1 + syy2 AS DOUBLE)
        - CAST(sy1 + sy2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE)
          / CAST(n1 + n2 AS DOUBLE) AS syy_p,
      (CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        - (CAST(sty1 AS DOUBLE) - CAST(st1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
          * (CAST(sty1 AS DOUBLE) - CAST(st1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
          / (CAST(stt1 AS DOUBLE) - CAST(st1 AS DOUBLE) * CAST(st1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS ssr1,
      (CAST(syy2 AS DOUBLE) - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        - (CAST(sty2 AS DOUBLE) - CAST(st2 AS DOUBLE) * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE))
          * (CAST(sty2 AS DOUBLE) - CAST(st2 AS DOUBLE) * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE))
          / (CAST(stt2 AS DOUBLE) - CAST(st2 AS DOUBLE) * CAST(st2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS ssr2,
      (CAST(syy1 + syy2 AS DOUBLE) - CAST(sy1 + sy2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
        - (CAST(sty1 + sty2 AS DOUBLE) - CAST(st1 + st2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
          * (CAST(sty1 + sty2 AS DOUBLE) - CAST(st1 + st2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
          / (CAST(stt1 + stt2 AS DOUBLE) - CAST(st1 + st2 AS DOUBLE) * CAST(st1 + st2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) AS ssrp
    FROM j
)
SELECT CAST(n1 + n2 AS BIGINT) AS n_days,
       CAST(n1 AS BIGINT) AS n_first_half,
       CASE WHEN ssr1 + ssr2 > 1e-9 * syy_p THEN
           CAST(ROUND(CAST(((ssrp - ssr1 - ssr2) / 2.0)
                           / ((ssr1 + ssr2) / (CAST(n1 + n2 AS DOUBLE) - 4.0))
                           AS DECIMAL(28,8)), 4) AS DOUBLE)
       END AS f_stat,
       CASE WHEN ssr1 + ssr2 > 1e-9 * syy_p THEN
           CAST(ROUND(CAST(((ssrp - ssr1 - ssr2) / 2.0)
                           / ((ssr1 + ssr2) / (CAST(n1 + n2 AS DOUBLE) - 4.0))
                           AS DECIMAL(28,8)), 4) AS DOUBLE) > 3.0
       ELSE ssrp - (ssr1 + ssr2) > 1e-9 * syy_p
       END AS structural_break
FROM calc
"""


def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily-revenue series by rescaled-range (R/S)
    analysis over window sizes 16/32/64 — the LONG-memory diagnostic the
    acf (short lags) and spectral (fixed period) views can't give:
    H ≈ 0.5 is a random walk, H > 0.5 persistent trending, H < 0.5
    mean-reverting. The number decides whether tomorrow's forecast should
    extrapolate momentum or fade it.

    Determinism of every float: segment means and variances come from
    EXACT decimal power sums (Σy, Σy² per segment window — never a float
    sum over an unordered frame); the cumulative deviation runs in the
    explicit (ORDER BY t) frame, so both engines add in the same order;
    each segment's R/S snaps at 9 dp into exact decimal means per size;
    the 3-point log-log slope is one fixed-order IEEE expression. Scale:
    everything after the daily rollup is the ≤|calendar|×3 relation."""
    idx = revenue_series(spark, sf_dir).select(
        "t", F.col("r").cast("decimal(20,2)").alias("y")
    )
    sizes = spark.createDataFrame([(16,), (32,), (64,)], "w int")
    g = idx.crossJoin(F.broadcast(sizes)).withColumn(
        "seg", F.floor((F.col("t") - 1) / F.col("w"))
    )
    p = Window.partitionBy("w", "seg")
    po = Window.partitionBy("w", "seg").orderBy("t")
    g = (
        g.withColumn("cnt", F.count(F.lit(1)).over(p))
        .filter(F.col("cnt") == F.col("w"))  # full segments only
        .withColumn("sy", F.sum("y").over(p))
        .withColumn("syy", F.sum(F.col("y") * F.col("y")).over(p))
        .withColumn(
            "dev",
            F.col("y").cast("double")
            - F.col("sy").cast("double") / F.col("w").cast("double"),
        )
        .withColumn("cum", F.sum("dev").over(po))
    )
    wd = F.col("w").cast("double")
    s2 = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double") / wd
    ) / wd
    # materialize R and rn BEFORE filtering: window expressions evaluate
    # over the relation they're selected from, and a post-filter partition
    # would hold one row (R would read 0)
    seg_rows = (
        g.withColumn("rng", F.max("cum").over(p) - F.min("cum").over(p))
        .withColumn("s2", s2)
        .withColumn("rn", F.row_number().over(po))
        .filter((F.col("rn") == 1) & (F.col("s2") > 0))
        .select(
            "w",
            snap_round(F.col("rng") / F.sqrt(F.col("s2")), 9)
            .cast("decimal(18,9)")
            .alias("rs"),
        )
    )
    per_w = seg_rows.groupBy("w").agg(
        F.count(F.lit(1)).alias("n_segs"),
        (F.sum("rs").cast("double") / F.count(F.lit(1)).cast("double")).alias("mean_rs"),
    )
    one = per_w.agg(
        *[
            F.max(F.when(F.col("w") == w, F.col("mean_rs"))).alias(f"rs{w}")
            for w in (16, 32, 64)
        ]
    )
    import math as _m

    lw16, lw32, lw64 = _m.log(16.0), _m.log(32.0), _m.log(64.0)
    sx = F.lit(lw16 + lw32 + lw64)
    sxx = F.lit(lw16 * lw16 + lw32 * lw32 + lw64 * lw64)
    ly16, ly32, ly64 = (F.log(F.col(f"rs{w}")) for w in (16, 32, 64))
    sy_ = ly16 + ly32 + ly64
    sxy = F.lit(lw16) * ly16 + F.lit(lw32) * ly32 + F.lit(lw64) * ly64
    hurst = snap_round(
        (F.lit(3.0) * sxy - sx * sy_) / (F.lit(3.0) * sxx - sx * sx), 6
    )
    return one.select(
        snap_round(F.col("rs16"), 6).alias("rs16"),
        snap_round(F.col("rs32"), 6).alias("rs32"),
        snap_round(F.col("rs64"), 6).alias("rs64"),
        hurst.alias("hurst"),
        F.when(hurst > 0.55, "persistent")
        .when(hurst < 0.45, "mean_reverting")
        .otherwise("random_walk")
        .alias("regime"),
    )


HURST_EXPONENT_SQL = f"""
WITH {REVENUE_SERIES_SQL},
idx AS (SELECT t, CAST(r AS DECIMAL(20,2)) AS y FROM series),
g0 AS (
    SELECT idx.t, idx.y, s.w, CAST(FLOOR((idx.t - 1) / s.w) AS BIGINT) AS seg
    FROM idx CROSS JOIN (SELECT unnest([16, 32, 64]) AS w) s
),
g1 AS (
    SELECT *,
           COUNT(*) OVER (PARTITION BY w, seg) AS cnt,
           SUM(y) OVER (PARTITION BY w, seg) AS sy,
           SUM(y * y) OVER (PARTITION BY w, seg) AS syy
    FROM g0
),
g2 AS (
    SELECT *,
           CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / CAST(w AS DOUBLE) AS dev
    FROM g1 WHERE cnt = w
),
g3 AS (
    SELECT *,
           SUM(dev) OVER (PARTITION BY w, seg ORDER BY t
                          ROWS UNBOUNDED PRECEDING) AS cum
    FROM g2
),
g4 AS (
    SELECT *,
           MAX(cum) OVER (PARTITION BY w, seg)
             - MIN(cum) OVER (PARTITION BY w, seg) AS rng,
           (CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(w AS DOUBLE))
           / CAST(w AS DOUBLE) AS s2,
           ROW_NUMBER() OVER (PARTITION BY w, seg ORDER BY t) AS rn
    FROM g3
),
seg_rows AS (
    SELECT w,
           CAST(ROUND(CAST(rng / SQRT(s2) AS DECIMAL(28,8)), 9)
                AS DECIMAL(18,9)) AS rs
    FROM g4 WHERE rn = 1 AND s2 > 0
),
per_w AS (
    SELECT w, CAST(SUM(rs) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_rs
    FROM seg_rows GROUP BY w
),
one AS (
    SELECT MAX(CASE WHEN w = 16 THEN mean_rs END) AS rs16,
           MAX(CASE WHEN w = 32 THEN mean_rs END) AS rs32,
           MAX(CASE WHEN w = 64 THEN mean_rs END) AS rs64
    FROM per_w
),
fit AS (
    SELECT rs16, rs32, rs64,
           CAST(ROUND(CAST(
               (3.0 * (LN(16.0) * LN(rs16) + LN(32.0) * LN(rs32) + LN(64.0) * LN(rs64))
                - (LN(16.0) + LN(32.0) + LN(64.0)) * (LN(rs16) + LN(rs32) + LN(rs64)))
               / (3.0 * (LN(16.0) * LN(16.0) + LN(32.0) * LN(32.0) + LN(64.0) * LN(64.0))
                  - (LN(16.0) + LN(32.0) + LN(64.0)) * (LN(16.0) + LN(32.0) + LN(64.0)))
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS hurst
    FROM one
)
SELECT CAST(ROUND(CAST(rs16 AS DECIMAL(28,8)), 6) AS DOUBLE) AS rs16,
       CAST(ROUND(CAST(rs32 AS DECIMAL(28,8)), 6) AS DOUBLE) AS rs32,
       CAST(ROUND(CAST(rs64 AS DECIMAL(28,8)), 6) AS DOUBLE) AS rs64,
       hurst,
       CASE WHEN hurst > 0.55 THEN 'persistent'
            WHEN hurst < 0.45 THEN 'mean_reverting'
            ELSE 'random_walk' END AS regime
FROM fit
"""


def q_granger_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-style lead-lag test between the daily click and purchase
    count series, BOTH directions: does yesterday's click count improve a
    purchase forecast beyond purchase's own lag (and vice versa)? The
    causal-direction companion of the lead-lag cross-correlation view —
    correlation at a lag says the series co-move; this asks whether the
    cross term survives once the target's own memory is in the model.

    Mechanics: restricted OLS z_t ~ (1, z_{t−1}) vs unrestricted
    z_t ~ (1, z_{t−1}, c_{t−1}), both solved in closed form (2×2 directly,
    3×3 by Cramer) from EXACT integer power sums — daily counts are
    integers, so every Σ, Σ², Σ·cross is exact DECIMAL(38,0) with zero
    float drift; coefficients snap at 8 dp, RSS comes from the algebraic
    identity RSS = Σz² − b·(X'z) evaluated in one fixed operand order,
    and F = (RSSᵣ−RSSᵤ)/(RSSᵤ/(n−3)) snaps at 6 dp. The lag-1 alignment
    is one self-join of the tiny daily relation on t = t'+1; both
    directions share it via a broadcast 2-row direction dimension (one
    plan, one scan). The 'leads' flag uses F > 4.35 — conservative vs
    the F(1, 20+) 5% critical band (4.24–4.35), so it never overclaims
    on short calendars.

    Scale: events collapse to ≤|calendar| rows in the single keyed
    exchange; everything after is constant-size algebra."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("cx"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("cy"),
    )
    w_t = Window.orderBy("d")
    ser = daily.select(F.row_number().over(w_t).alias("t"), "cx", "cy")
    lagged = ser.alias("cur").join(
        ser.alias("prv"), F.col("cur.t") == F.col("prv.t") + 1
    )
    dirs = spark.createDataFrame(
        [("clicks_lead_purchases",), ("purchases_lead_clicks",)],
        "direction string",
    )
    is_xy = F.col("direction") == "clicks_lead_purchases"
    rows = lagged.crossJoin(F.broadcast(dirs)).select(
        "direction",
        F.when(is_xy, F.col("cur.cy")).otherwise(F.col("cur.cx"))
        .cast("decimal(38,0)")
        .alias("z"),
        F.when(is_xy, F.col("prv.cy")).otherwise(F.col("prv.cx"))
        .cast("decimal(38,0)")
        .alias("o"),
        F.when(is_xy, F.col("prv.cx")).otherwise(F.col("prv.cy"))
        .cast("decimal(38,0)")
        .alias("c"),
    )
    sums = rows.groupBy("direction").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").alias("sz"),
        F.sum("o").alias("so"),
        F.sum("c").alias("sc"),
        F.sum(F.col("o") * F.col("o")).alias("soo"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
        F.sum(F.col("o") * F.col("c")).alias("soc"),
        F.sum(F.col("z") * F.col("o")).alias("szo"),
        F.sum(F.col("z") * F.col("c")).alias("szc"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    nd = F.col("n").cast("double")
    sz, so, sc = (F.col(x).cast("double") for x in ("sz", "so", "sc"))
    soo, scc, soc = (F.col(x).cast("double") for x in ("soo", "scc", "soc"))
    szo, szc, szz = (F.col(x).cast("double") for x in ("szo", "szc", "szz"))

    def snap8(col):
        return F.round(col.cast("decimal(28,8)"), 8).cast("double")

    # restricted: z ~ 1 + o  (2x2 normal equations)
    a1 = snap8((nd * szo - so * sz) / (nd * soo - so * so))
    a0 = snap8((sz - a1 * so) / nd)
    rss_r = szz - a0 * sz - a1 * szo
    # unrestricted: z ~ 1 + o + c  (3x3 Cramer, first-row cofactors;
    # X'X = [[n,So,Sc],[So,Soo,Soc],[Sc,Soc,Scc]], X'z = [Sz,Szo,Szc])
    det_u = (
        nd * (soo * scc - soc * soc)
        - so * (so * scc - soc * sc)
        + sc * (so * soc - soo * sc)
    )
    b1 = snap8(
        (
            nd * (szo * scc - soc * szc)
            - sz * (so * scc - soc * sc)
            + sc * (so * szc - szo * sc)
        )
        / det_u
    )
    b2 = snap8(
        (
            nd * (soo * szc - szo * soc)
            - so * (so * szc - szo * sc)
            + sz * (so * soc - soo * sc)
        )
        / det_u
    )
    b0 = snap8((sz - b1 * so - b2 * sc) / nd)
    rss_u = szz - b0 * sz - b1 * szo - b2 * szc
    f_stat = snap_round((rss_r - rss_u) / (rss_u / (nd - 3.0)), 6)
    return sums.select(
        "direction",
        F.col("n").alias("n_days"),
        b2.alias("cross_lag_coef"),
        snap_round(rss_r, 4).alias("rss_restricted"),
        snap_round(rss_u, 4).alias("rss_unrestricted"),
        f_stat.alias("f_stat"),
        (f_stat > 4.35).alias("leads"),
    ).orderBy("direction")


_GRANGER_FIT = """
    SELECT direction, n,
           CAST(ROUND(CAST((sz - b1 * so - b2 * sc) / n_d AS DECIMAL(28,8)), 8)
                AS DOUBLE) AS b0,
           b1, b2, a0, a1, sz, szo, szc, szz
    FROM (
        SELECT *,
               CAST(ROUND(CAST((sz - a1 * so) / n_d AS DECIMAL(28,8)), 8)
                    AS DOUBLE) AS a0,
               CAST(ROUND(CAST(
                   (n_d * (szo * scc - soc * szc)
                    - sz * (so * scc - soc * sc)
                    + sc * (so * szc - szo * sc)) / det_u
                   AS DECIMAL(28,8)), 8) AS DOUBLE) AS b1,
               CAST(ROUND(CAST(
                   (n_d * (soo * szc - szo * soc)
                    - so * (so * szc - szo * sc)
                    + sz * (so * soc - soo * sc)) / det_u
                   AS DECIMAL(28,8)), 8) AS DOUBLE) AS b2
        FROM (
            SELECT *,
                   CAST(ROUND(CAST((n_d * szo - so * sz) / (n_d * soo - so * so)
                        AS DECIMAL(28,8)), 8) AS DOUBLE) AS a1,
                   n_d * (soo * scc - soc * soc)
                     - so * (so * scc - soc * sc)
                     + sc * (so * soc - soo * sc) AS det_u
            FROM casted
        )
    )
"""

GRANGER_LEAD_LAG_SQL = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS cx,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS cy
    FROM events GROUP BY 1
),
ser AS (
    SELECT ROW_NUMBER() OVER (ORDER BY d) AS t, cx, cy FROM daily
),
lagged AS (
    SELECT cur.cx AS cx_t, cur.cy AS cy_t, prv.cx AS cx_l, prv.cy AS cy_l
    FROM ser cur JOIN ser prv ON cur.t = prv.t + 1
),
rows_ AS (
    SELECT direction,
           CAST(CASE WHEN direction = 'clicks_lead_purchases' THEN cy_t
                     ELSE cx_t END AS DECIMAL(38,0)) AS z,
           CAST(CASE WHEN direction = 'clicks_lead_purchases' THEN cy_l
                     ELSE cx_l END AS DECIMAL(38,0)) AS o,
           CAST(CASE WHEN direction = 'clicks_lead_purchases' THEN cx_l
                     ELSE cy_l END AS DECIMAL(38,0)) AS c
    FROM lagged CROSS JOIN
         (SELECT unnest(['clicks_lead_purchases', 'purchases_lead_clicks'])
          AS direction)
),
sums AS (
    SELECT direction,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(z) AS sz, SUM(o) AS so, SUM(c) AS sc,
           SUM(o * o) AS soo, SUM(c * c) AS scc, SUM(o * c) AS soc,
           SUM(z * o) AS szo, SUM(z * c) AS szc, SUM(z * z) AS szz
    FROM rows_ GROUP BY direction
),
casted AS (
    SELECT direction, n, CAST(n AS DOUBLE) AS n_d,
           CAST(sz AS DOUBLE) AS sz, CAST(so AS DOUBLE) AS so,
           CAST(sc AS DOUBLE) AS sc, CAST(soo AS DOUBLE) AS soo,
           CAST(scc AS DOUBLE) AS scc, CAST(soc AS DOUBLE) AS soc,
           CAST(szo AS DOUBLE) AS szo, CAST(szc AS DOUBLE) AS szc,
           CAST(szz AS DOUBLE) AS szz
    FROM sums
),
fit AS ({_GRANGER_FIT}),
rss AS (
    SELECT direction, n, b2,
           szz - a0 * sz - a1 * szo AS rss_r,
           szz - b0 * sz - b1 * szo - b2 * szc AS rss_u
    FROM fit
)
SELECT direction,
       n AS n_days,
       b2 AS cross_lag_coef,
       CAST(ROUND(CAST(rss_r AS DECIMAL(28,8)), 4) AS DOUBLE) AS rss_restricted,
       CAST(ROUND(CAST(rss_u AS DECIMAL(28,8)), 4) AS DOUBLE) AS rss_unrestricted,
       CAST(ROUND(CAST((rss_r - rss_u) / (rss_u / (CAST(n AS DOUBLE) - 3.0))
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS f_stat,
       CAST(ROUND(CAST((rss_r - rss_u) / (rss_u / (CAST(n AS DOUBLE) - 3.0))
            AS DECIMAL(28,8)), 6) AS DOUBLE) > 4.35 AS leads
FROM rss
ORDER BY direction
"""


def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index of order values — the
    TAIL companion of the Zipf (rank-frequency) and Pareto-share views:
    α̂ = 1 / mean(ln(x₍ᵢ₎/x₍ₖ₊₁₎)) over the k = 100 largest order totals.
    α below ~2 means infinite variance — quantities like 'mean order
    value' stop concentrating, and the pipeline should switch to
    median/trimmed summaries (the robust_stats family).

    Determinism: the k+1 tail values are a TakeOrdered by (price DESC,
    orderkey) — a value-deterministic multiset; each log-ratio snaps to
    DECIMAL(18,9) before the EXACT decimal mean, and α = 1/H snaps at
    6 dp. The only float ops are the ln and one division, both on
    identical inputs in both engines.

    Scale: TakeOrderedAndProject keeps k+1 rows per partition and merges
    — no global sort, no full shuffle; the estimator's cost is the scan."""
    k = 100
    o = load_table(spark, sf_dir, "orders")
    top = (
        o.select(F.col("o_totalprice").cast("decimal(12,2)").alias("p"), "o_orderkey")
        .orderBy(F.desc("p"), "o_orderkey")
        .limit(k + 1)
        # k+1 rows reused by the cutoff lookup AND the log-ratio branch:
        # materialize once so the TakeOrdered scan of orders runs once
        .localCheckpoint()
    )
    w_r = Window.orderBy(F.desc("p"), "o_orderkey")
    ranked = top.select("p", F.row_number().over(w_r).alias("rk"))
    xmin = ranked.filter(F.col("rk") == k + 1).select(
        F.col("p").alias("x_k1")
    )
    lr = (
        ranked.filter(F.col("rk") <= k)
        .crossJoin(F.broadcast(xmin))
        .select(
            F.round(
                F.log(F.col("p").cast("double") / F.col("x_k1").cast("double")).cast(
                    "decimal(18,9)"
                ),
                9,
            ).alias("lnr"),
            "x_k1",
        )
    )
    agg = lr.groupBy("x_k1").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("lnr").alias("s"),
    )
    h = F.col("s").cast("double") / F.col("k").cast("double")
    return agg.select(
        F.col("k"),
        F.col("x_k1").cast("double").alias("tail_cutoff"),
        snap_round(h, 6).alias("hill_h"),
        snap_round(F.lit(1.0) / h, 6).alias("hill_alpha"),
    )


HILL_TAIL_INDEX_SQL = """
WITH top AS (
    SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS p,
           ROW_NUMBER() OVER (ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC,
                              o_orderkey) AS rk
    FROM orders
    ORDER BY p DESC, o_orderkey LIMIT 101
),
xmin AS (
    SELECT p AS x_k1 FROM top WHERE rk = 101
),
lr AS (
    SELECT CAST(ROUND(CAST(LN(CAST(p AS DOUBLE) / CAST(x_k1 AS DOUBLE))
                AS DECIMAL(18,9)), 9) AS DECIMAL(18,9)) AS lnr,
           x_k1
    FROM top CROSS JOIN xmin WHERE rk <= 100
)
SELECT CAST(COUNT(*) AS BIGINT) AS k,
       CAST(ANY_VALUE(x_k1) AS DOUBLE) AS tail_cutoff,
       CAST(ROUND(CAST(CAST(SUM(lnr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS hill_h,
       CAST(ROUND(CAST(1.0 / (CAST(SUM(lnr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS hill_alpha
FROM lr GROUP BY x_k1
"""


def q_theil_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of customer lifetime order value, decomposed
    EXACTLY into between-nation and within-nation components - the
    property gini_by_nation cannot offer (Gini does not decompose): is
    spending inequality about WHERE customers are or about spread INSIDE
    each market? T = T_between + sum_g s_g*T_g; per nation the two
    contributions are s_g*T_g = (1/(n*mu)) * sum_{i in g} x*ln(x/mu_g)
    and s_g*ln(mu_g/mu), which sum to the nation's share of total T -
    the identity ships as the `theil_contrib` column so the oracle
    certifies the decomposition itself (the brier_decomposition rule).

    Per-customer totals are exact DECIMAL money; nation means snap at 6
    dp BEFORE the row terms (so both engines feed ln identical doubles),
    each x*ln(x/mu_g) term snaps at 6 dp before an exact decimal sum,
    and the nation stage is a <=25-row relation. Zero-total customers
    are excluded (non-participants, stated).

    At 100 TB: one keyed customer reduction, one <=|nations| mean
    rollup broadcast back, one more keyed pass, one 1-row assembly.
    Rows: per-nation contributions plus '__total__'.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_cust = (
        o.join(c.select("c_custkey", "c_nationkey"), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.sum(money("o_totalprice")).cast("decimal(38,2)").alias("x"))
        .filter(F.col("x") > 0)
        # the per-customer rollup feeds the mean stage AND the term stage:
        # checkpointed so the orders x customer reduction runs exactly once
        .localCheckpoint()
    )
    nation_mu = per_cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("x").cast("decimal(38,2)").alias("sx_g"),
    ).select(
        "c_nationkey",
        "n_g",
        "sx_g",
        F.round(
            (F.col("sx_g").cast("double") / F.col("n_g").cast("double")).cast(
                "decimal(28,6)"
            ),
            6,
        )
        .cast("double")
        .alias("mu_g"),
    )
    glob = nation_mu.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("sx_g").cast("decimal(38,2)").alias("sx"),
    ).select(
        "n",
        F.round(
            (F.col("sx").cast("double") / F.col("n").cast("double")).cast(
                "decimal(28,6)"
            ),
            6,
        )
        .cast("double")
        .alias("mu"),
    )
    terms = per_cust.join(
        F.broadcast(nation_mu.select("c_nationkey", "mu_g")), "c_nationkey"
    ).select(
        "c_nationkey",
        F.round(
            (
                F.col("x").cast("double")
                * F.log(F.col("x").cast("double") / F.col("mu_g"))
            ).cast("decimal(28,6)"),
            6,
        )
        .cast("decimal(28,6)")
        .alias("t_term"),
    )
    per_nation = (
        terms.groupBy("c_nationkey")
        .agg(F.sum("t_term").cast("decimal(38,6)").alias("t_sum_g"))
        .join(F.broadcast(nation_mu), "c_nationkey")
        .crossJoin(F.broadcast(glob))
    )
    nation_rows = per_nation.select(
        F.col("c_nationkey").cast("string").alias("nation"),
        "n_g",
        snap_round(
            F.col("t_sum_g").cast("double")
            / (F.col("n").cast("double") * F.col("mu")),
            6,
        ).alias("within_contrib"),
        snap_round(
            (
                F.col("sx_g").cast("double")
                / (F.col("n").cast("double") * F.col("mu"))
            )
            * F.log(F.col("mu_g") / F.col("mu")),
            6,
        ).alias("between_contrib"),
    )
    total = nation_rows.agg(
        F.lit("__total__").alias("nation"),
        F.sum("n_g").cast("long").alias("n_g"),
        snap_round(
            F.sum(F.col("within_contrib").cast("decimal(18,6)")).cast("double"), 6
        ).alias("within_contrib"),
        snap_round(
            F.sum(F.col("between_contrib").cast("decimal(18,6)")).cast("double"), 6
        ).alias("between_contrib"),
    )
    both = nation_rows.unionByName(total)
    return both.select(
        "nation",
        "n_g",
        "within_contrib",
        "between_contrib",
        snap_round(
            F.col("within_contrib") + F.col("between_contrib"), 6
        ).alias("theil_contrib"),
    )


THEIL_INEQUALITY_SQL = """
WITH per_cust AS (
    SELECT c.c_nationkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS x
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_custkey, c.c_nationkey
    HAVING SUM(CAST(o_totalprice AS DECIMAL(12,2))) > 0
),
nation_mu AS (
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_g,
           CAST(SUM(x) AS DECIMAL(38,2)) AS sx_g,
           CAST(ROUND(CAST(CAST(SUM(x) AS DOUBLE) / COUNT(*)
               AS DECIMAL(28,6)), 6) AS DOUBLE) AS mu_g
    FROM per_cust GROUP BY 1
),
gmu AS (
    SELECT CAST(SUM(n_g) AS BIGINT) AS n,
           CAST(ROUND(CAST(CAST(SUM(sx_g) AS DOUBLE) / SUM(n_g)
               AS DECIMAL(28,6)), 6) AS DOUBLE) AS mu
    FROM nation_mu
),
terms AS (
    SELECT p.c_nationkey,
           CAST(ROUND(CAST(CAST(x AS DOUBLE)
               * LN(CAST(x AS DOUBLE) / m.mu_g)
               AS DECIMAL(28,6)), 6) AS DECIMAL(28,6)) AS t_term
    FROM per_cust p JOIN nation_mu m ON p.c_nationkey = m.c_nationkey
),
per_nation AS (
    SELECT t.c_nationkey,
           CAST(SUM(t_term) AS DECIMAL(38,6)) AS t_sum_g
    FROM terms t GROUP BY 1
),
nation_rows AS (
    SELECT CAST(m.c_nationkey AS VARCHAR) AS nation,
           m.n_g,
           CAST(ROUND(CAST(CAST(p.t_sum_g AS DOUBLE)
               / (CAST(g.n AS DOUBLE) * g.mu)
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS within_contrib,
           CAST(ROUND(CAST(
               (CAST(m.sx_g AS DOUBLE) / (CAST(g.n AS DOUBLE) * g.mu))
               * LN(m.mu_g / g.mu)
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS between_contrib
    FROM per_nation p
    JOIN nation_mu m ON p.c_nationkey = m.c_nationkey
    CROSS JOIN gmu g
),
both_ AS (
    SELECT nation, n_g, within_contrib, between_contrib FROM nation_rows
    UNION ALL
    SELECT '__total__', CAST(SUM(n_g) AS BIGINT),
           CAST(ROUND(CAST(CAST(SUM(CAST(within_contrib AS DECIMAL(18,6)))
               AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE),
           CAST(ROUND(CAST(CAST(SUM(CAST(between_contrib AS DECIMAL(18,6)))
               AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE)
    FROM nation_rows
)
SELECT nation, n_g, within_contrib, between_contrib,
       CAST(ROUND(CAST(within_contrib + between_contrib AS DECIMAL(28,8)), 6)
           AS DOUBLE) AS theil_contrib
FROM both_
"""
