"""Behavioral-analytics plans: co-occurrence, transition, concurrency, RFM.

Extension surface — the reference has no self-joins, no lead/lag, and no
interval logic at all (SURVEY.md §2.4 "no theta/range/as-of" and §2.6
"no window functions executed"). These four shapes are the standard
behavioral-warehouse workloads a production engine is expected to run:

- ``basket_pairs`` — market-basket co-occurrence via an equi self-join on
  the order key. The join shuffles both sides on ``l_orderkey`` once; the
  pair fan-out is bounded by items-per-order (≤ 7 in TPC-H shape, so ≤ 21
  pairs per order), which is what keeps the shape linear at 100 TB —
  co-occurrence on an UNBOUNDED group key (e.g. user) would need a
  frequency cap or sampling first.
- ``event_transitions`` — first-order Markov transition counts/probabilities
  from ``lead()`` over per-user event sequences. One shuffle on user_id;
  per-user state never leaves the window frame. The tie-break ``(ts,
  event_id)`` makes the sequence a total order (same discipline as the
  allocator, SURVEY.md §2.9).
- ``peak_concurrency`` — classic sweep-line max-overlap, fully relational:
  each event opens a half-open 15-minute interval; ±1 deltas are
  pre-aggregated per distinct timestamp BEFORE the running sum, so the
  window input is bounded by distinct timestamps, not events. End-before-
  start at equal instants falls out of netting the deltas (c − e + s is
  the post-instant value either way).
- ``rfm_segments`` — recency/frequency/monetary quartile segmentation with
  ``ntile(4)``. The quartile windows are global single-partition by
  definition, but they run over the per-customer AGGREGATE (one row per
  customer), not raw orders; at true 100-TB cardinality the scale path is
  approx-quantile cutoffs joined as a broadcast dim — kept here as the
  exact, oracle-checkable form with documented tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from candyspark.functions.numeric import snap_round
from candyspark.sources.readers import load_table


def _basket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per order with its sorted distinct part array — the shared
    basket relation under the market-basket family. ONE map-side-combined
    groupBy performs dedup AND grouping (the _copurchase_edges discipline,
    plans/graph.py — measured 122 s → 45 s at sf30 for the graph twin);
    the self-join form paid two extra full shuffles of the fact projection
    plus the join's sorts before the same pair aggregate."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        # pre-partition on the GROUP key (the _copurchase_edges round-6
        # discipline): set-building runs post-exchange on every core and
        # the groupBy reuses this single shuffle
        .repartition("l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )


def _basket_pair_counts(items: DataFrame) -> DataFrame:
    """(part_a < part_b, n_orders co-containing them) from the basket
    relation: pairs are generated JVM-side from each order's sorted array
    (bounded by items-per-order — the same C(m,2) bound the self-join
    form had) and counted keyed on ONE packed long (u·2^32 + v; part keys
    are < 2^31 at any generated SF) — half the shuffle key bytes of a
    two-long key, with map-side partial aggregation absorbing the fan."""
    m = F.size(F.col("parts"))
    pair_structs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, m),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    # the < 2^31 bound is ENFORCED, not assumed (round-7 advice fix): a key
    # past it would silently merge distinct pairs — raise instead; the
    # fallback at that scale is a (u, v) struct key, same aggregate
    packed = (
        items.select("parts")
        .filter(m >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select(
            F.when(
                F.col("p.v") < F.lit(2**31),  # u < v, so v bounds both
                F.shiftleft("p.u", 32) + F.col("p.v"),
            )
            .otherwise(
                F.raise_error(
                    "basket pair pack overflow: part key >= 2^31 — switch "
                    "the pair aggregate to a (u, v) struct key"
                )
            )
            .alias("uv")
        )
    )
    return (
        packed.groupBy("uv")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.shiftrightunsigned("uv", 32).cast("long").alias("part_a"),
            F.col("uv").bitwiseAND(F.lit(4294967295)).cast("long").alias("part_b"),
            "n_orders",
        )
    )


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 part pairs by number of orders containing both."""
    return (
        _basket_pair_counts(_basket_items(spark, sf_dir))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(100)
    )


BASKET_PAIRS_SQL = """
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY n_orders DESC, part_a, part_b
LIMIT 100
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix: count + probability per (from, to)."""
    e = load_table(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("to_type", F.lead("event_type").over(seq))
        .filter(F.col("to_type").isNotNull())
    )
    counts = t.groupBy(
        F.col("event_type").alias("from_type"), "to_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    per_from = Window.partitionBy("from_type")
    return (
        counts.withColumn("from_total", F.sum("n").over(per_from))
        .select(
            "from_type",
            "to_type",
            "n",
            snap_round(F.col("n") / F.col("from_total"), 6).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


EVENT_TRANSITIONS_SQL = """
WITH seq AS (
    SELECT event_type AS from_type,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
    FROM events
),
counts AS (
    SELECT from_type, to_type, COUNT(*) AS n
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST(ROUND(CAST(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS prob
FROM counts
ORDER BY from_type, to_type
"""


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent 15-minute event intervals per event_type (sweep-line)."""
    e = load_table(spark, sf_dir, "events")
    starts = e.select("event_type", F.col("ts").alias("t"), F.lit(1).alias("delta"))
    ends = e.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    per_instant = (
        starts.unionByName(ends)
        .groupBy("event_type", "t")
        .agg(
            F.sum("delta").alias("net"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias("n_starts"),
        )
    )
    sweep = Window.partitionBy("event_type").orderBy("t")
    return (
        per_instant.withColumn("running", F.sum("net").over(sweep))
        .groupBy("event_type")
        .agg(
            F.max("running").alias("peak_concurrency"),
            F.sum("n_starts").alias("n_intervals"),
        )
        .orderBy("event_type")
    )


PEAK_CONCURRENCY_SQL = """
WITH deltas AS (
    SELECT event_type, ts AS t, 1 AS delta, 1 AS is_start FROM events
    UNION ALL
    SELECT event_type, ts + INTERVAL 15 MINUTE AS t, -1 AS delta, 0 AS is_start FROM events
),
per_instant AS (
    SELECT event_type, t, SUM(delta) AS net, SUM(is_start) AS n_starts
    FROM deltas GROUP BY 1, 2
),
swept AS (
    SELECT event_type, n_starts,
           SUM(net) OVER (PARTITION BY event_type ORDER BY t) AS running
    FROM per_instant
)
SELECT event_type,
       CAST(MAX(running) AS BIGINT) AS peak_concurrency,
       CAST(SUM(n_starts) AS BIGINT) AS n_intervals
FROM swept GROUP BY event_type
ORDER BY event_type
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation of customers, rolled up per segment."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("monetary"),
    )
    r_w = Window.orderBy(F.desc("last_order"), "o_custkey")
    f_w = Window.orderBy(F.desc("frequency"), "o_custkey")
    m_w = Window.orderBy(F.desc("monetary"), "o_custkey")
    scored = cust.select(
        "o_custkey",
        "monetary",
        F.ntile(4).over(r_w).alias("r_score"),
        F.ntile(4).over(f_w).alias("f_score"),
        F.ntile(4).over(m_w).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary").cast("decimal(18,2)").cast("double").alias("total_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


RFM_SEGMENTS_SQL = """
WITH cust AS (
    SELECT o_custkey,
           MAX(o_orderdate) AS last_order,
           COUNT(*) AS frequency,
           SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS monetary
    FROM orders GROUP BY o_custkey
),
scored AS (
    SELECT o_custkey, monetary,
           NTILE(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
           NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
           NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
    FROM cust
)
SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
       CAST(CAST(SUM(monetary) AS DECIMAL(18,2)) AS DOUBLE) AS total_monetary
FROM scored
GROUP BY 1, 2, 3
ORDER BY r_score, f_score, m_score
"""


def q_fuzzy_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked string-similarity self-join: per brand, count part-name
    pairs within Levenshtein distance ≤ 4 (the catalog-hygiene /
    entity-resolution shape).

    The block key (p_brand) is what makes this survive scale: the
    quadratic edit-distance comparison runs only WITHIN blocks, so cost is
    Σ block² instead of N² — the same blocking discipline as the n-gram
    dedup blocker (operators/dedup.py). Two result-preserving prunes cut
    the per-pair cost further: a length band (|len(a) − len(b)| ≤ k is a
    NECESSARY condition for distance ≤ k, so no pair is lost) evaluated
    on precomputed lengths before any DP, and Spark's thresholded
    ``levenshtein(l, r, k)``, which runs the banded O(len·k) DP instead of
    the full O(len²) matrix (returns −1 past the threshold — identical
    accepted distances, measured 13.4 s → 2.8 s at sf0.1). Levenshtein
    evaluates JVM-side (whole-stage codegen), never in Python.

    The probe side is ``fan_out`` round-robined: a compact dim lands in one
    parquet split, which would serialize the whole Σ block² comparison on
    one core (measured 11.9 s → 1.5 s at sf0.1; no-op at real scale where
    splits already exceed parallelism)."""
    from candyspark.sources.readers import fan_out

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", F.length("p_name").alias("len")
    )
    a, b = fan_out(p).alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 4)
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= 4),
        )
        .select(F.col("a.p_brand").alias("brand"), dist.alias("dist"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= 4))
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n_fuzzy_pairs"),
            snap_round(
                F.sum("dist").cast("double") / F.count(F.lit(1)).cast("double"), 4
            ).alias("avg_dist"),
        )
        .orderBy("brand")
    )


FUZZY_PART_PAIRS_SQL = """
SELECT a.p_brand AS brand,
       COUNT(*) AS n_fuzzy_pairs,
       CAST(ROUND(CAST(CAST(SUM(levenshtein(a.p_name, b.p_name)) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,8)), 4) AS DOUBLE) AS avg_dist
FROM part a
JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 4
GROUP BY a.p_brand
ORDER BY brand
"""


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event_type and ISO
    weekday — 'is behavior day-of-week dependent?'. The statistic is
    assembled from three tiny aggregates (cells, row margins, column
    margins) broadcast-joined back onto the ≤ |types|×7 contingency cells;
    the fact table is scanned once and shuffles only on the cell key.
    Per-cell terms are decimal-snapped before the sum (float addition is
    not associative; decimal is), keeping the statistic engine-exact.

    The statistic uses the algebraic identity χ² = Σ n·O²/(r·c) − n, which
    is exact over the OBSERVED cells only: a zero-observed cell contributes
    0 to Σ O²/E but E to the textbook Σ(O−E)²/E, so summing the textbook
    term over a groupBy result (which only materializes non-empty cells)
    silently understates χ² on sparse grids — the round-3 planted
    perfect-association test caught exactly that."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", (F.weekday("ts") + F.lit(1)).alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_m = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    cols_m = cells.groupBy("dow").agg(F.sum("o").alias("ct"))
    total = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").alias("nr"),
        F.countDistinct("dow").alias("nc"),
    )
    term = snap_round(
        F.col("n").cast("double")
        * (F.col("o").cast("double") * F.col("o").cast("double"))
        / (F.col("rt").cast("double") * F.col("ct").cast("double")),
        6,
    ).cast("decimal(18,6)")
    return (
        cells.join(F.broadcast(rows_m), "event_type")
        .join(F.broadcast(cols_m), "dow")
        .crossJoin(F.broadcast(total))
        .select(term.alias("term"), "n", "nr", "nc")
        .groupBy("n", "nr", "nc")
        .agg(F.sum("term").alias("chi2_sum"))
        .select(
            snap_round(
                F.col("chi2_sum").cast("double") - F.col("n").cast("double"), 4
            ).alias("chi2"),
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("int").alias("dof"),
            F.col("n").cast("bigint").alias("n_events"),
        )
    )


CHI2_INDEPENDENCE_SQL = """
WITH cells AS (
    SELECT event_type, isodow(ts) AS dow, COUNT(*) AS o
    FROM events GROUP BY 1, 2
),
rows_m AS (SELECT event_type, SUM(o) AS rt FROM cells GROUP BY 1),
cols_m AS (SELECT dow, SUM(o) AS ct FROM cells GROUP BY 1),
total AS (
    SELECT SUM(o) AS n, COUNT(DISTINCT event_type) AS nr, COUNT(DISTINCT dow) AS nc
    FROM cells
),
terms AS (
    SELECT CAST(ROUND(CAST(
               CAST(t.n AS DOUBLE)
               * (CAST(c.o AS DOUBLE) * CAST(c.o AS DOUBLE))
               / (CAST(r.rt AS DOUBLE) * CAST(m.ct AS DOUBLE))
               AS DECIMAL(28,8)), 6) AS DECIMAL(18,6)) AS term,
           t.n, t.nr, t.nc
    FROM cells c
    JOIN rows_m r USING (event_type)
    JOIN cols_m m USING (dow)
    CROSS JOIN total t
)
SELECT CAST(ROUND(CAST(CAST(SUM(term) AS DOUBLE) - CAST(n AS DOUBLE)
                       AS DECIMAL(28,8)), 4) AS DOUBLE) AS chi2,
       CAST((nr - 1) * (nc - 1) AS INT) AS dof,
       CAST(n AS BIGINT) AS n_events
FROM terms
GROUP BY n, nr, nc
"""


def q_user_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral profile exercising the positional window family
    the engine hadn't yet surfaced — first_value / last_value / nth_value
    over the full partition frame — plus the modal event type (most
    frequent, ties to the lexically-smallest type: mode() without its
    engine-specific tie ambiguity). Every window uses the (ts, event_id)
    total order, so all five columns are deterministic.

    Scale: the three positional values and the row-collapse share ONE
    user_id sort; the mode branch is a (user, type) count + top-1
    row_number — both sides partition by user_id, so the final join is
    co-partitioned (no third shuffle of the fact table)."""
    e = load_table(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    full = seq.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    profile = (
        e.select(
            "user_id",
            F.first_value("event_type").over(full).alias("first_type"),
            F.last_value("event_type").over(full).alias("last_type"),
            F.nth_value("value", 2).over(full).alias("second_value"),
            F.count(F.lit(1)).over(full).alias("n_events"),
        )
        .dropDuplicates(["user_id"])
    )
    by_count = Window.partitionBy("user_id").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    modal = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(by_count))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"))
    )
    return (
        profile.join(modal, "user_id")
        .select(
            "user_id", "first_type", "last_type", "second_value",
            "modal_type", "n_events",
        )
        .orderBy("user_id")
    )


USER_EVENT_PROFILE_SQL = """
WITH prof AS (
    SELECT DISTINCT user_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type) OVER w AS last_type,
           nth_value(value, 2) OVER w AS second_value,
           COUNT(*) OVER w AS n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
modal AS (
    SELECT user_id, event_type AS modal_type
    FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY COUNT(*) DESC, event_type) AS rn
        FROM events
        GROUP BY user_id, event_type
    )
    WHERE rn = 1
)
SELECT p.user_id, p.first_type, p.last_type, p.second_value,
       m.modal_type, p.n_events
FROM prof p JOIN modal m USING (user_id)
ORDER BY p.user_id
"""


def q_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-analysis shape: users deterministically split into two
    arms (content-hash parity of user_id — the same re-shard-proof
    assignment discipline as plans/corpus.q_dataset_split), per-arm
    conversion rate (users with ≥1 purchase), and the 95% Wilson score
    interval. Wilson beats the normal approximation at small n and never
    leaves [0,1]; the math is sqrt/± in IEEE double (sqrt is
    correctly-rounded, so engines agree bit-for-bit) snapped through
    decimal at the edge. Scale: one scan → per-user flag (partial-agg'd
    groupBy) → 2-row aggregate; the interval math runs on 2 rows."""
    e = load_table(spark, sf_dir, "events")
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
        .select(
            (F.col("user_id") % 2).alias("arm"),
            "converted",
        )
    )
    z = F.lit(1.959963984540054)  # two-sided 95%
    agg = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    n, x = F.col("n_users").cast("double"), F.col("n_converted").cast("double")
    p = x / n
    denom = F.lit(1.0) + z * z / n
    center = (p + z * z / (F.lit(2.0) * n)) / denom
    half = (
        z * F.sqrt(p * (F.lit(1.0) - p) / n + z * z / (F.lit(4.0) * n * n))
    ) / denom
    snap = lambda c: F.round(c.cast("decimal(28,8)"), 4).cast("double")  # noqa: E731
    return agg.select(
        "arm",
        "n_users",
        "n_converted",
        snap(p).alias("conversion_rate"),
        snap(center - half).alias("wilson_low"),
        snap(center + half).alias("wilson_high"),
    ).orderBy("arm")


AB_CONVERSION_SQL = """
WITH per_user AS (
    SELECT user_id % 2 AS arm,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
    FROM events
    GROUP BY user_id
),
agg AS (
    SELECT arm,
           COUNT(*) AS n_users,
           SUM(converted) AS n_converted
    FROM per_user
    GROUP BY arm
)
SELECT arm, n_users, CAST(n_converted AS BIGINT) AS n_converted,
       CAST(ROUND(CAST(p AS DECIMAL(28,8)), 4) AS DOUBLE) AS conversion_rate,
       CAST(ROUND(CAST((center - half) AS DECIMAL(28,8)), 4) AS DOUBLE) AS wilson_low,
       CAST(ROUND(CAST((center + half) AS DECIMAL(28,8)), 4) AS DOUBLE) AS wilson_high
FROM (
    SELECT arm, n_users, n_converted,
           p,
           (p + z * z / (2.0 * n)) / (1.0 + z * z / n) AS center,
           (z * sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n)))
               / (1.0 + z * z / n) AS half
    FROM (
        SELECT arm, n_users, n_converted,
               CAST(n_users AS DOUBLE) AS n,
               CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE) AS p,
               1.959963984540054 AS z
        FROM agg
    )
)
ORDER BY arm
"""


_GAP_BUCKETS = [  # (upper bound in ms — exclusive, order, label)
    (10_000, 0, "lt_10s"),
    (60_000, 1, "10s_1m"),
    (600_000, 2, "1m_10m"),
    (3_600_000, 3, "10m_1h"),
    (21_600_000, 4, "1h_6h"),
]


def q_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event latency distribution: per-user gaps between consecutive
    events (lag over the (ts, event_id) total order), bucketed into
    human-scale latency bands — the session-timeout / SLA-tail histogram.
    Gap math is exact integer milliseconds (unix_millis), and the bucket
    ladder is integer comparisons — no float log in sight, so both engines
    bucket identically by construction (floor(log2(gap)) would wobble at
    power-of-two boundaries across libms). Scale: one user_id window pass,
    then a ≤6-row aggregate; the share column divides on those 6 rows."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    gaps = (
        e.select("user_id", "ts", "event_id")
        .withColumn("gap_ms", ms - F.lag(ms).over(w))
        .filter(F.col("gap_ms").isNotNull())
    )
    bucket_order = F.lit(len(_GAP_BUCKETS))
    bucket_label = F.lit("ge_6h")
    for hi, order, label in reversed(_GAP_BUCKETS):
        bucket_order = F.when(F.col("gap_ms") < hi, order).otherwise(bucket_order)
        bucket_label = F.when(F.col("gap_ms") < hi, label).otherwise(bucket_label)
    agg = gaps.select(
        bucket_order.alias("bucket_order"), bucket_label.alias("bucket")
    ).groupBy("bucket_order", "bucket").agg(F.count(F.lit(1)).alias("n_gaps"))
    total = Window.partitionBy()
    return agg.select(
        "bucket_order",
        "bucket",
        "n_gaps",
        F.round(
            (F.col("n_gaps") / F.sum("n_gaps").over(total)).cast("decimal(28,8)"), 4
        ).cast("double").alias("share"),
    ).orderBy("bucket_order")


INTEREVENT_GAPS_SQL = """
WITH g AS (
    SELECT user_id,
           epoch_ms(ts) - lag(epoch_ms(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
    FROM events
),
b AS (
    SELECT CASE WHEN gap_ms < 10000 THEN 0
                WHEN gap_ms < 60000 THEN 1
                WHEN gap_ms < 600000 THEN 2
                WHEN gap_ms < 3600000 THEN 3
                WHEN gap_ms < 21600000 THEN 4
                ELSE 5 END AS bucket_order,
           CASE WHEN gap_ms < 10000 THEN 'lt_10s'
                WHEN gap_ms < 60000 THEN '10s_1m'
                WHEN gap_ms < 600000 THEN '1m_10m'
                WHEN gap_ms < 3600000 THEN '10m_1h'
                WHEN gap_ms < 21600000 THEN '1h_6h'
                ELSE 'ge_6h' END AS bucket
    FROM g WHERE gap_ms IS NOT NULL
)
SELECT bucket_order, bucket, COUNT(*) AS n_gaps,
       CAST(ROUND(CAST(CAST(COUNT(*) AS DOUBLE)
                       / SUM(CAST(COUNT(*) AS DOUBLE)) OVER ()
                       AS DECIMAL(28,8)), 4) AS DOUBLE) AS share
FROM b
GROUP BY bucket_order, bucket
ORDER BY bucket_order
"""


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over co-purchase pairs: support, confidence, and
    lift for the top-100 part pairs (market-basket analysis proper — the
    metric layer q_basket_pairs stops short of).

    All three metrics are ratios of exact long counts (pair count, per-item
    basket counts, total baskets), snapped at 6 dp. Scale posture: the
    per-item counts and the basket total are aggregates of the SAME
    deduplicated (order, part) relation the pair join uses; per-item counts
    broadcast back onto the top-100 pairs (a dim-sized frame), and the
    basket total is a 1-row broadcast — the only quadratic object is the
    within-order pair join, same bound as q_basket_pairs.

    The basket relation feeds THREE consumers (pair counts, item counts,
    basket total) — Spark re-executes shared subtrees per consumer, so
    it's materialized once (localCheckpoint; the triangle-count lesson,
    plans/graph.py) instead of rescanning and re-shuffling lineitem.
    Round 6: pair generation moved from the dedup + self-join form to the
    shared ``_basket_items``/``_basket_pair_counts`` kernel (in-map array
    pair-gen over ONE groupBy(order) exchange — the _copurchase_edges
    discipline); item counts and the basket total now derive from the
    same checkpointed array relation (an explode and a count — no second
    fact pass), with identical counts by construction.
    """
    items = _basket_items(spark, sf_dir).localCheckpoint()
    pairs = (
        _basket_pair_counts(items)
        .withColumnRenamed("n_orders", "n_ab")
        .orderBy(F.desc("n_ab"), "part_a", "part_b")
        .limit(100)
    )
    item_cnt = (
        items.select(F.explode("parts").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    baskets = items.agg(F.count(F.lit(1)).alias("n_baskets"))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    nab, nk = F.col("n_ab").cast("double"), F.col("n_baskets").cast("double")
    return (
        pairs.join(
            F.broadcast(item_cnt.withColumnRenamed("n_item", "n_a")),
            F.col("part_a") == F.col("pk"),
        )
        .drop("pk")
        .join(
            F.broadcast(item_cnt.withColumnRenamed("n_item", "n_b")),
            F.col("part_b") == F.col("pk"),
        )
        .drop("pk")
        .crossJoin(F.broadcast(baskets))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            snap_round(nab / nk, 6).alias("support"),
            snap_round(nab / na, 6).alias("confidence_ab"),
            snap_round(nab * nk / (na * nb), 6).alias("lift"),
        )
        .orderBy(F.desc("n_ab"), "part_a", "part_b")
    )


BASKET_RULES_SQL = """
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
    FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_ab DESC, part_a, part_b
    LIMIT 100
),
item_cnt AS (SELECT l_partkey AS pk, COUNT(*) AS n_item FROM d GROUP BY 1),
baskets AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM d)
SELECT part_a, part_b, n_ab,
       CAST(ROUND(CAST(CAST(n_ab AS DOUBLE) / n_baskets AS DECIMAL(28,8)), 6) AS DOUBLE)
         AS support,
       CAST(ROUND(CAST(CAST(n_ab AS DOUBLE) / ia.n_item AS DECIMAL(28,8)), 6) AS DOUBLE)
         AS confidence_ab,
       CAST(ROUND(CAST(CAST(n_ab AS DOUBLE) * n_baskets / (ia.n_item * CAST(ib.n_item AS DOUBLE))
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS lift
FROM pairs
JOIN item_cnt ia ON part_a = ia.pk
JOIN item_cnt ib ON part_b = ib.pk
CROSS JOIN baskets
ORDER BY n_ab DESC, part_a, part_b
"""


def sessionize(e: DataFrame, gap_ms: int = 1_800_000) -> DataFrame:
    """Gap-based sessionization core: lag-flag-cumsum session ids over the
    (ts, event_id) total order, one per-(user, session) aggregate row out
    (n_events, duration_ms, has_purchase). Exact integer-ms comparisons —
    both engines (and the brute-force fuzz oracle) assign identical
    sessions. One user_id exchange; the window and aggregate share it."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        ms.alias("ms"),
        F.when(
            (ms - F.lag(ms).over(w)).isNull() | ((ms - F.lag(ms).over(w)) > gap_ms),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    ).withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return flagged.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ms") - F.min("ms")).alias("duration_ms"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "has_purchase"
        ),
    )


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap) + engagement decay by
    session ordinal: the lag-flag-cumsum idiom that turns a raw event
    stream into sessions with plain windows — the batch twin of
    streaming_session's session_window, on a different axis (per-ordinal
    engagement, not per-session rows).

    Session boundaries are exact integer-millisecond comparisons; the
    session number is a running SUM of the boundary flags (cumsum over the
    same (ts, event_id) total order), so both engines assign identical
    session ids. Per-(user, session) stats then roll up by session ordinal
    (capped at 5+) with all averages derived from exact long sums, snapped.
    Scale: every window and the first aggregate hash on user_id — one
    keyed exchange for the heavy phase, then a ≤6-row rollup.
    """
    e = load_table(spark, sf_dir, "events")
    sessions = sessionize(e)
    ordinal = F.when(F.col("session_no") >= 5, F.lit(5)).otherwise(
        F.col("session_no")
    ).cast("int")
    by_ordinal = sessions.groupBy(ordinal.alias("session_ordinal")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("long").alias("sum_events"),
        F.sum("duration_ms").cast("long").alias("sum_duration_ms"),
        F.sum("has_purchase").cast("long").alias("n_with_purchase"),
    )
    ns = F.col("n_sessions").cast("double")
    return by_ordinal.select(
        "session_ordinal",
        "n_sessions",
        snap_round(F.col("sum_events") / ns, 6).alias("avg_events"),
        snap_round(F.col("sum_duration_ms") / ns / 60000.0, 6).alias("avg_duration_min"),
        snap_round(F.col("n_with_purchase") / ns, 6).alias("purchase_rate"),
    ).orderBy("session_ordinal")


SESSION_STATS_SQL = """
WITH flagged AS (
    SELECT user_id, event_type,
           epoch_ms(ts) AS ms,
           CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_ms(ts) - LAG(epoch_ms(ts))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
                THEN 1 ELSE 0 END AS new_session,
           ts, event_id
    FROM events
),
numbered AS (
    SELECT *,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_no
    FROM flagged
),
sessions AS (
    SELECT user_id, session_no,
           COUNT(*) AS n_events,
           MAX(ms) - MIN(ms) AS duration_ms,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
    FROM numbered
    GROUP BY user_id, session_no
),
by_ordinal AS (
    SELECT CAST(CASE WHEN session_no >= 5 THEN 5 ELSE session_no END AS INTEGER)
             AS session_ordinal,
           COUNT(*) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS sum_events,
           CAST(SUM(duration_ms) AS BIGINT) AS sum_duration_ms,
           CAST(SUM(has_purchase) AS BIGINT) AS n_with_purchase
    FROM sessions
    GROUP BY 1
)
SELECT session_ordinal, n_sessions,
       CAST(ROUND(CAST(sum_events / CAST(n_sessions AS DOUBLE) AS DECIMAL(28,8)), 6)
            AS DOUBLE) AS avg_events,
       CAST(ROUND(CAST(sum_duration_ms / CAST(n_sessions AS DOUBLE) / 60000.0
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS avg_duration_min,
       CAST(ROUND(CAST(n_with_purchase / CAST(n_sessions AS DOUBLE) AS DECIMAL(28,8)), 6)
            AS DOUBLE) AS purchase_rate
FROM by_ordinal
ORDER BY session_ordinal
"""


def q_info_gain_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain of part brand on the return outcome — the
    decision-tree split-quality metric (entropy reduction), sibling of
    q_chi2_independence's association test: IG = H(return) −
    Σ_b p(b)·H(return | brand=b).

    All probabilities are ratios of exact long counts off ONE
    (brand, returnflag) aggregate; entropies apply ln to those identical
    doubles and snap at 6 dp. The contingency table is ≤brands×flags rows
    — every window runs over it, never the facts. One scan (lineitem⨝part
    broadcast), one keyed aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cells = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    whole = Window.partitionBy()
    per_brand = Window.partitionBy("p_brand")
    per_flag = Window.partitionBy("l_returnflag")
    n_tot = F.sum("n").over(whole).cast("double")
    n_b = F.sum("n").over(per_brand).cast("double")
    n_f = F.sum("n").over(per_flag).cast("double")
    # cell term of Σ p(b) H(y|b) = -(n/N)·ln(n/n_b); cell term of H(y) uses
    # the flag marginal once per flag — divide by the flag's cell count so
    # summing cells counts each marginal exactly once.
    cond_term = -(F.col("n") / n_tot) * F.log(F.col("n") / n_b)
    flag_cells = F.count(F.lit(1)).over(per_flag).cast("double")
    marg_term = -(n_f / n_tot) * F.log(n_f / n_tot) / flag_cells
    return (
        cells.select(
            cond_term.alias("cond"),
            marg_term.alias("marg"),
        )
        .agg(
            snap_round(F.sum("marg"), 6).alias("entropy_return"),
            snap_round(F.sum("cond"), 6).alias("cond_entropy"),
            snap_round(F.sum("marg") - F.sum("cond"), 6).alias("info_gain"),
        )
    )


INFO_GAIN_BRAND_SQL = """
WITH cells AS (
    SELECT p_brand, l_returnflag, COUNT(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand, l_returnflag
),
t AS (
    SELECT n,
           SUM(n) OVER () AS n_tot,
           SUM(n) OVER (PARTITION BY p_brand) AS n_b,
           SUM(n) OVER (PARTITION BY l_returnflag) AS n_f,
           COUNT(*) OVER (PARTITION BY l_returnflag) AS flag_cells
    FROM cells
)
SELECT CAST(ROUND(CAST(SUM(-(CAST(n_f AS DOUBLE) / n_tot) * LN(n_f / CAST(n_tot AS DOUBLE)) / flag_cells)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS entropy_return,
       CAST(ROUND(CAST(SUM(-(CAST(n AS DOUBLE) / n_tot) * LN(n / CAST(n_b AS DOUBLE)))
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS cond_entropy,
       CAST(ROUND(CAST(SUM(-(CAST(n_f AS DOUBLE) / n_tot) * LN(n_f / CAST(n_tot AS DOUBLE)) / flag_cells)
                       - SUM(-(CAST(n AS DOUBLE) / n_tot) * LN(n / CAST(n_b AS DOUBLE)))
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS info_gain
FROM t
"""


def q_item_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering scores: top-3 most-similar parts
    per part by basket Jaccard (|orders with both| / |orders with
    either|) — the "customers also bought" ranking layer over
    q_basket_pairs' raw co-occurrence and q_basket_rules' lift.

    Similarity is a snapped ratio of exact longs; the pair relation is
    symmetrized (a→b and b→a) BEFORE the per-item top-3 window so every
    item ranks its full neighbor list; ties break on the neighbor key.
    Scale posture is q_basket_rules' (one materialized dedup relation,
    within-order pair join bounded by items-per-order); the ranking
    window hashes on the item key.
    """
    items = _basket_items(spark, sf_dir).localCheckpoint()
    pairs = _basket_pair_counts(items).select(
        F.col("part_a").alias("pa"), F.col("part_b").alias("pb"), F.col("n_orders").alias("n_ab")
    )
    item_cnt = (
        items.select(F.explode("parts").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("pb").alias("pa"), F.col("pa").alias("pb"), "n_ab"
        )
    )
    scored = (
        sym.join(
            F.broadcast(item_cnt.withColumnRenamed("n_item", "n_a")),
            F.col("pa") == F.col("pk"),
        )
        .drop("pk")
        .join(
            F.broadcast(item_cnt.withColumnRenamed("n_item", "n_b")),
            F.col("pb") == F.col("pk"),
        )
        .drop("pk")
        .withColumn(
            "jaccard",
            snap_round(
                F.col("n_ab")
                / (F.col("n_a") + F.col("n_b") - F.col("n_ab")).cast("double"),
                6,
            ),
        )
    )
    w = Window.partitionBy("pa").orderBy(F.desc("jaccard"), "pb")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("pa").alias("part"),
            F.col("pb").alias("similar_part"),
            "n_ab",
            "jaccard",
            "rank",
        )
        .orderBy("part", "rank")
    )


ITEM_JACCARD_TOPK_SQL = """
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
    FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
),
sym AS (
    SELECT pa, pb, n_ab FROM pairs
    UNION ALL
    SELECT pb, pa, n_ab FROM pairs
),
item_cnt AS (SELECT l_partkey AS pk, COUNT(*) AS n_item FROM d GROUP BY 1),
scored AS (
    SELECT pa, pb, n_ab,
           CAST(ROUND(CAST(CAST(n_ab AS DOUBLE)
                           / (ia.n_item + ib.n_item - n_ab)
                           AS DECIMAL(28,8)), 6) AS DOUBLE) AS jaccard
    FROM sym
    JOIN item_cnt ia ON pa = ia.pk
    JOIN item_cnt ib ON pb = ib.pk
)
SELECT pa AS part, pb AS similar_part, n_ab, jaccard, rank
FROM (
    SELECT *,
           CAST(ROW_NUMBER() OVER (PARTITION BY pa ORDER BY jaccard DESC, pb)
                AS INTEGER) AS rank
    FROM scored
)
WHERE rank <= 3
ORDER BY part, rank
"""


def q_fuzzy_qgram_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-corpus fuzzy self-join WITHOUT a blocking key: part-name
    pairs within edit distance 1, found by PREFIX-FILTERED q-gram
    candidate generation (PPJoin-lite) — the scale path when no natural
    block like q_fuzzy_part_pairs' brand exists.

    Completeness chain (each step provable, so the oracle can be the
    plain brute-force definition): one edit changes ≤ q distinct
    q-grams, so a distance-≤1 pair overlaps in ≥ max(|Dₐ|,|D_b|) − 2
    grams; by the prefix-filter theorem any such pair must then share
    one of each side's 3 RAREST grams (global (df, gram) order — rare
    grams have short posting lists, which is the entire point: joining
    on all grams of short names detonates on 'wi'/'id'-style common
    bigrams). Candidates verify with one exact levenshtein each. The
    bound is vacuous for name pairs where BOTH sides have ≤ 2 distinct
    q-grams (names of ~≤ 3 chars): those route through a separate
    all-pairs branch over that (tiny) short-name set, restoring exact
    completeness for any input.

    Scale: the join runs at DISTINCT-NAME grain (entity resolution is
    about strings, and duplicate names would square the pair space — at
    sf0.1 the raw-part form measured 118 s from exactly that); gram df is
    one aggregate over the deduplicated names; the prefix join's fan-out
    is the rare-gram posting-list bound, not vocabulary²; verification is
    one exact levenshtein per candidate. Occurrence counts ride along so
    the result still quantifies merge impact.
    """
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    names = p.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts")).localCheckpoint()
    grams = names.select(
        "p_name",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length("p_name") - 1),
                    lambda i: F.col("p_name").substr(i, F.lit(2)),
                )
            )
        ).alias("g"),
    )
    dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("p_name").orderBy("df", "g")
    prefix = (
        grams.join(dfreq, "g")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_name", "g")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(F.col("a.p_name").alias("name_a"), F.col("b.p_name").alias("name_b"))
        .dropDuplicates()
    )
    # completeness guard: the prefix-filter bound max(|Dₐ|,|D_b|) − 2 is
    # vacuous when BOTH names have ≤ 2 distinct q-grams (e.g. 'ab'/'ac' —
    # distance-1 pairs sharing no gram), so that tiny set self-joins
    # all-pairs. Any pair with one side at ≥ 3 grams keeps a ≥ 1 overlap
    # bound and is covered by the prefix join above.
    n_grams = F.size(
        F.array_distinct(
            F.when(
                F.length("p_name") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("p_name") - 1),
                    lambda i: F.col("p_name").substr(i, F.lit(2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        )
    )
    shorts = names.filter(n_grams <= 2).select("p_name")
    short_pairs = (
        shorts.select(F.col("p_name").alias("name_a"))
        .join(
            F.broadcast(shorts.select(F.col("p_name").alias("name_b"))),
            F.col("name_a") < F.col("name_b"),
        )
    )
    cands = cands.unionByName(short_pairs).dropDuplicates()
    ca = names.select(F.col("p_name").alias("name_a"), F.col("n_parts").alias("n_parts_a"))
    cb = names.select(F.col("p_name").alias("name_b"), F.col("n_parts").alias("n_parts_b"))
    return (
        cands.join(F.broadcast(ca), "name_a")
        .join(F.broadcast(cb), "name_b")
        .filter(
            (F.abs(F.length("name_a") - F.length("name_b")) <= 1)
            & (F.levenshtein("name_a", "name_b") <= 1)
        )
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("distance"),
            "n_parts_a",
            "n_parts_b",
        )
        .orderBy("name_a", "name_b")
    )


FUZZY_QGRAM_JOIN_SQL = """
WITH names AS (SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY p_name)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS distance,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM names a JOIN names b
  ON a.p_name < b.p_name
 AND ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 1
 AND levenshtein(a.p_name, b.p_name) <= 1
ORDER BY name_a, name_b
"""


# --- Fellegi-Sunter entity-match scoring -------------------------------------

# Configured (m, u) agreement probabilities per comparison field — the
# unsupervised operating mode of Fellegi-Sunter (1969): m = P(agree | match),
# u = P(agree | non-match) set from domain judgment, weights precomputed in
# Python at full precision so BOTH engines consume identical double literals
# (the shared-definition rule, SCALE.md).
import math as _math

_FS_FIELDS: list[tuple[str, float, float]] = [
    ("name", 0.9, 0.05),
    ("type", 0.8, 0.15),
    ("size", 0.85, 0.10),
    ("price", 0.7, 0.20),
]
_FS_WEIGHTS: dict[str, tuple[float, float]] = {
    f: (_math.log(m / u), _math.log((1.0 - m) / (1.0 - u)))
    for f, m, u in _FS_FIELDS
}


def q_entity_match_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage scoring over blocked candidate pairs:
    the probabilistic layer ABOVE the candidate generators (fuzzy_part_pairs
    / fuzzy_qgram_join produce pairs; this ranks them). Per candidate pair
    the four field comparisons (name edit-distance <= 3, same type, same
    size, retail price within 50.00) each contribute their log-likelihood
    weight ln(m/u) on agreement or ln((1-m)/(1-u)) on disagreement, and the
    total is the classic match score an ER pipeline thresholds into
    link / review / non-link.

    Scale: candidates come from the SAME blocking discipline as
    fuzzy_part_pairs — brand block + length band + thresholded banded
    levenshtein(.., 6) — so the quadratic comparison never leaves the
    block; scoring is pure scan-stage arithmetic on the surviving pairs
    (all weights are baked literals, no model table join). Top-30 by score
    is TakeOrdered.

    Exactness: weights are Python-precomputed double literals identical in
    both engines; agreement predicates compare exact ints/strings/decimals
    (price through DECIMAL(12,2)); the 4-term sum is left-associated
    identically and snaps once at 6 dp.
    """
    from candyspark.sources.readers import fan_out

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        "p_size",
        F.col("p_retailprice").cast("decimal(12,2)").alias("price"),
        F.length("p_name").alias("len"),
    )
    a, b = fan_out(p).alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 6)
    cand = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= 6),
        )
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
    )

    def w(field: str, cond):
        agree, disagree = _FS_WEIGHTS[field]
        return F.when(cond, F.lit(agree)).otherwise(F.lit(disagree))

    name_w = w("name", F.col("dist") <= 3)
    type_w = w("type", F.col("a.p_type") == F.col("b.p_type"))
    size_w = w("size", F.col("a.p_size") == F.col("b.p_size"))
    price_w = w(
        "price", F.abs(F.col("a.price") - F.col("b.price")) <= F.lit(50).cast("decimal(12,2)")
    )
    score = name_w + type_w + size_w + price_w
    return (
        cand.select(
            F.col("a.p_partkey").alias("partkey_a"),
            F.col("b.p_partkey").alias("partkey_b"),
            F.col("a.p_brand").alias("brand"),
            (F.col("dist") <= 3).alias("name_agree"),
            (F.col("a.p_type") == F.col("b.p_type")).alias("type_agree"),
            (F.col("a.p_size") == F.col("b.p_size")).alias("size_agree"),
            (F.abs(F.col("a.price") - F.col("b.price")) <= F.lit(50).cast("decimal(12,2)")).alias(
                "price_agree"
            ),
            snap_round(score, 6).alias("match_score"),
        )
        .orderBy(F.desc("match_score"), "partkey_a", "partkey_b")
        .limit(30)
    )


def _fs_sql() -> str:
    wn, wt, ws, wp = (_FS_WEIGHTS[f] for f in ("name", "type", "size", "price"))

    def case(cond: str, w: tuple[float, float]) -> str:
        return f"CASE WHEN {cond} THEN {w[0]!r} ELSE {w[1]!r} END"

    name_c = "levenshtein(a.p_name, b.p_name) <= 3"
    type_c = "a.p_type = b.p_type"
    size_c = "a.p_size = b.p_size"
    price_c = (
        "ABS(CAST(a.p_retailprice AS DECIMAL(12,2))"
        " - CAST(b.p_retailprice AS DECIMAL(12,2)))"
        " <= CAST(50 AS DECIMAL(12,2))"
    )
    score = " + ".join(
        [case(name_c, wn), case(type_c, wt), case(size_c, ws), case(price_c, wp)]
    )
    return f"""
SELECT a.p_partkey AS partkey_a,
       b.p_partkey AS partkey_b,
       a.p_brand AS brand,
       {name_c} AS name_agree,
       {type_c} AS type_agree,
       {size_c} AS size_agree,
       {price_c} AS price_agree,
       CAST(ROUND(CAST({score} AS DECIMAL(28,8)), 6) AS DOUBLE) AS match_score
FROM part a
JOIN part b
  ON a.p_brand = b.p_brand
 AND a.p_partkey < b.p_partkey
 AND ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 6
 AND levenshtein(a.p_name, b.p_name) <= 6
ORDER BY match_score DESC, partkey_a, partkey_b
LIMIT 30
"""


ENTITY_MATCH_SCORES_SQL = _fs_sql()


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the event_type × ISO-weekday association
    — the EFFECT-SIZE companion to q_chi2_independence's significance
    test: chi-square grows with n (at 100 TB everything is "significant"),
    while V = sqrt(chi2 / (n · (min(r,c) − 1))) ∈ [0, 1] is
    sample-size-free, so it is the number a pipeline actually thresholds
    on. Reports chi2, V, and the conventional small/medium/large reading
    (0.1/0.3/0.5 at these dof).

    Same shape as chi2_independence: one fact scan → ≤|types|×7 cells →
    margins broadcast back; V is one snapped double expression on the
    1-row result. Per-cell chi2 terms are decimal-snapped before the sum
    (order-free), and sqrt runs on the SAME snapped chi2 in both engines.
    Uses the zero-cell-safe identity χ² = Σ n·O²/(r·c) − n (see
    q_chi2_independence) — under PERFECT association the planted test
    requires exactly V = 1, which the textbook-term-over-observed-cells
    form misses whenever the grid has empty cells.
    """
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", (F.weekday("ts") + F.lit(1)).alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_m = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    cols_m = cells.groupBy("dow").agg(F.sum("o").alias("ct"))
    total = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").alias("nr"),
        F.countDistinct("dow").alias("nc"),
    )
    term = snap_round(
        F.col("n").cast("double")
        * (F.col("o").cast("double") * F.col("o").cast("double"))
        / (F.col("rt").cast("double") * F.col("ct").cast("double")),
        6,
    ).cast("decimal(18,6)")
    chi2 = snap_round(
        F.col("chi2_sum").cast("double") - F.col("n").cast("double"), 4
    )
    mindim = F.least(F.col("nr"), F.col("nc")) - F.lit(1)
    v = snap_round(
        F.sqrt(chi2 / (F.col("n").cast("double") * mindim.cast("double"))), 6
    )
    return (
        cells.join(F.broadcast(rows_m), "event_type")
        .join(F.broadcast(cols_m), "dow")
        .crossJoin(F.broadcast(total))
        .select(term.alias("term"), "n", "nr", "nc")
        .groupBy("n", "nr", "nc")
        .agg(F.sum("term").alias("chi2_sum"))
        .select(
            chi2.alias("chi2"),
            F.col("n").cast("bigint").alias("n_events"),
            mindim.cast("int").alias("min_dim_minus1"),
            v.alias("cramers_v"),
            F.when(v < 0.1, "negligible")
            .when(v < 0.3, "small")
            .when(v < 0.5, "medium")
            .otherwise("large")
            .alias("effect"),
        )
    )


CRAMERS_V_SQL = """
WITH cells AS (
    SELECT event_type, isodow(ts) AS dow, COUNT(*) AS o
    FROM events GROUP BY 1, 2
),
rows_m AS (SELECT event_type, SUM(o) AS rt FROM cells GROUP BY 1),
cols_m AS (SELECT dow, SUM(o) AS ct FROM cells GROUP BY 1),
total AS (
    SELECT SUM(o) AS n, COUNT(DISTINCT event_type) AS nr, COUNT(DISTINCT dow) AS nc
    FROM cells
),
terms AS (
    SELECT CAST(ROUND(CAST(
               CAST(t.n AS DOUBLE)
               * (CAST(c.o AS DOUBLE) * CAST(c.o AS DOUBLE))
               / (CAST(r.rt AS DOUBLE) * CAST(m.ct AS DOUBLE))
               AS DECIMAL(28,8)), 6) AS DECIMAL(18,6)) AS term,
           t.n, t.nr, t.nc
    FROM cells c
    JOIN rows_m r USING (event_type)
    JOIN cols_m m USING (dow)
    CROSS JOIN total t
),
agg AS (
    SELECT CAST(ROUND(CAST(CAST(SUM(term) AS DOUBLE) - CAST(n AS DOUBLE)
                           AS DECIMAL(28,8)), 4) AS DOUBLE) AS chi2,
           n, nr, nc
    FROM terms GROUP BY n, nr, nc
),
v AS (
    SELECT chi2,
           CAST(n AS BIGINT) AS n_events,
           CAST(LEAST(nr, nc) - 1 AS INT) AS min_dim_minus1,
           CAST(ROUND(CAST(
               SQRT(chi2 / (CAST(n AS DOUBLE) * CAST(LEAST(nr, nc) - 1 AS DOUBLE)))
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS cramers_v
    FROM agg
)
SELECT chi2, n_events, min_dim_minus1, cramers_v,
       CASE WHEN cramers_v < 0.1 THEN 'negligible'
            WHEN cramers_v < 0.3 THEN 'small'
            WHEN cramers_v < 0.5 THEN 'medium'
            ELSE 'large' END AS effect
FROM v
"""


def q_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test of independence (log-likelihood ratio) for event_type ×
    ISO-weekday — the information-theoretic twin of q_chi2_independence:
    G = 2·Σ O·ln(O·n/(r·c)) = 2n·I(X;Y) in nats, additive under table
    collapse (chi-square isn't), and the form Wilks' theorem actually
    speaks about. Zero-observed cells contribute exactly 0 to G, so the
    observed-cells-only sum is EXACT here by construction — the identity
    trick chi2 needed is free.

    Same one-scan cells+margins shape; per-cell terms decimal-snapped
    before the order-free sum, one 4-dp snap on the statistic."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", (F.weekday("ts") + F.lit(1)).alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_m = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    cols_m = cells.groupBy("dow").agg(F.sum("o").alias("ct"))
    total = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").alias("nr"),
        F.countDistinct("dow").alias("nc"),
    )
    term = snap_round(
        2.0
        * F.col("o").cast("double")
        * F.log(
            F.col("o").cast("double")
            * F.col("n").cast("double")
            / (F.col("rt").cast("double") * F.col("ct").cast("double"))
        ),
        6,
    ).cast("decimal(18,6)")
    return (
        cells.join(F.broadcast(rows_m), "event_type")
        .join(F.broadcast(cols_m), "dow")
        .crossJoin(F.broadcast(total))
        .select(term.alias("term"), "n", "nr", "nc")
        .groupBy("n", "nr", "nc")
        .agg(F.sum("term").alias("g_sum"))
        .select(
            snap_round(F.col("g_sum").cast("double"), 4).alias("g_stat"),
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("int").alias("dof"),
            F.col("n").cast("bigint").alias("n_events"),
        )
    )


G_TEST_SQL = """
WITH cells AS (
    SELECT event_type, isodow(ts) AS dow, COUNT(*) AS o
    FROM events GROUP BY 1, 2
),
rows_m AS (SELECT event_type, SUM(o) AS rt FROM cells GROUP BY 1),
cols_m AS (SELECT dow, SUM(o) AS ct FROM cells GROUP BY 1),
total AS (
    SELECT SUM(o) AS n, COUNT(DISTINCT event_type) AS nr, COUNT(DISTINCT dow) AS nc
    FROM cells
),
terms AS (
    SELECT CAST(ROUND(CAST(
               2.0 * CAST(c.o AS DOUBLE)
               * LN(CAST(c.o AS DOUBLE) * CAST(t.n AS DOUBLE)
                    / (CAST(r.rt AS DOUBLE) * CAST(m.ct AS DOUBLE)))
               AS DECIMAL(28,8)), 6) AS DECIMAL(18,6)) AS term,
           t.n, t.nr, t.nc
    FROM cells c
    JOIN rows_m r USING (event_type)
    JOIN cols_m m USING (dow)
    CROSS JOIN total t
)
SELECT CAST(ROUND(CAST(CAST(SUM(term) AS DOUBLE) AS DECIMAL(28,8)), 4) AS DOUBLE) AS g_stat,
       CAST((nr - 1) * (nc - 1) AS INT) AS dof,
       CAST(n AS BIGINT) AS n_events
FROM terms
GROUP BY n, nr, nc
"""


def q_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient for event_type × ISO-weekday, BOTH
    directions — the ASYMMETRIC association read Cramér's V can't give:
    U(type|dow) = I/H(type) is 'how much does knowing the weekday shrink
    type uncertainty', and U(dow|type) the reverse; asymmetry localizes
    which variable predicts which. Completes the association triple
    (chi2 significance → V magnitude → U direction) from the SAME cells.

    Entropies assemble from per-cell/-margin −p·ln p terms snapped at
    9 dp into exact decimal sums; I = H_r + H_c − H_j and both ratios are
    closed-form IEEE on identical inputs, snapped at 6 dp. The ≤|types|×7
    cell relation is checkpointed once — it feeds FOUR consumers (three
    entropies + the total) and without the checkpoint each would rescan
    the fact table."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", (F.weekday("ts") + F.lit(1)).alias("dow")
    ).agg(F.count(F.lit(1)).alias("o")).localCheckpoint(eager=True)
    n_tot = cells.agg(F.sum("o").alias("n"))

    def ent(df: DataFrame, cnt: str) -> DataFrame:
        p = F.col(cnt).cast("double") / F.col("n").cast("double")
        return (
            df.crossJoin(F.broadcast(n_tot))
            .select(snap_round(-p * F.log(p), 9).cast("decimal(18,9)").alias("t"))
            .agg(F.sum("t").cast("double").alias("h"))
        )
    h_r = ent(cells.groupBy("event_type").agg(F.sum("o").alias("c")), "c")
    h_c = ent(cells.groupBy("dow").agg(F.sum("o").alias("c")), "c")
    h_j = ent(cells, "o")
    mi = F.col("h_r") + F.col("h_c") - F.col("h_j")
    return (
        h_r.select(F.col("h").alias("h_r"))
        .crossJoin(F.broadcast(h_c.select(F.col("h").alias("h_c"))))
        .crossJoin(F.broadcast(h_j.select(F.col("h").alias("h_j"))))
        .select(
            snap_round(F.col("h_r"), 6).alias("h_type"),
            snap_round(F.col("h_c"), 6).alias("h_dow"),
            snap_round(mi, 6).alias("mutual_info"),
            snap_round(mi / F.col("h_r"), 6).alias("u_type_given_dow"),
            snap_round(mi / F.col("h_c"), 6).alias("u_dow_given_type"),
        )
    )


THEIL_U_SQL = """
WITH cells AS (
    SELECT event_type, isodow(ts) AS dow, COUNT(*) AS o
    FROM events GROUP BY 1, 2
),
n_tot AS (SELECT SUM(o) AS n FROM cells),
h_r AS (
    SELECT CAST(SUM(t) AS DOUBLE) AS h FROM (
        SELECT CAST(ROUND(CAST(
            -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
            * LN(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
            AS DECIMAL(28,8)), 9) AS DECIMAL(18,9)) AS t
        FROM (SELECT event_type, SUM(o) AS c FROM cells GROUP BY 1) CROSS JOIN n_tot
    )
),
h_c AS (
    SELECT CAST(SUM(t) AS DOUBLE) AS h FROM (
        SELECT CAST(ROUND(CAST(
            -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
            * LN(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
            AS DECIMAL(28,8)), 9) AS DECIMAL(18,9)) AS t
        FROM (SELECT dow, SUM(o) AS c FROM cells GROUP BY 1) CROSS JOIN n_tot
    )
),
h_j AS (
    SELECT CAST(SUM(t) AS DOUBLE) AS h FROM (
        SELECT CAST(ROUND(CAST(
            -(CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
            * LN(CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
            AS DECIMAL(28,8)), 9) AS DECIMAL(18,9)) AS t
        FROM cells CROSS JOIN n_tot
    )
)
SELECT CAST(ROUND(CAST(h_r.h AS DECIMAL(28,8)), 6) AS DOUBLE) AS h_type,
       CAST(ROUND(CAST(h_c.h AS DECIMAL(28,8)), 6) AS DOUBLE) AS h_dow,
       CAST(ROUND(CAST(h_r.h + h_c.h - h_j.h AS DECIMAL(28,8)), 6) AS DOUBLE) AS mutual_info,
       CAST(ROUND(CAST((h_r.h + h_c.h - h_j.h) / h_r.h AS DECIMAL(28,8)), 6) AS DOUBLE) AS u_type_given_dow,
       CAST(ROUND(CAST((h_r.h + h_c.h - h_j.h) / h_c.h AS DECIMAL(28,8)), 6) AS DOUBLE) AS u_dow_given_type
FROM h_r CROSS JOIN h_c CROSS JOIN h_j
"""


def q_markov2_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order Markov audit: top trigram contexts where the previous
    TWO events predict the next better than the last one alone — lift =
    p(next | prev2, prev1) / p(next | prev1). Lift ≈ 1 everywhere means
    event_transitions' first-order matrix is a sufficient model; heavy
    tails here are the memory the first-order view hides (the modeling
    companion to event_path_match's pattern queries).

    Shape: ONE user_id window pass produces both lags (two lead()s share
    the sort), the trigram and bigram aggregates are ≤|types|³ and
    ≤|types|² relations, and the lift join is broadcast. Probabilities
    snap at 6 dp; ordering (lift desc, trigram) is total. Requires ≥ 20
    observations per context so tiny-denominator lifts don't dominate."""
    e = load_table(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select("user_id", "ts", "event_id", F.col("event_type").alias("p2"))
        .withColumn("p1", F.lead("p2", 1).over(seq))
        .withColumn("nxt", F.lead("p2", 2).over(seq))
        .filter(F.col("nxt").isNotNull())
    )
    tri = t.groupBy("p2", "p1", "nxt").agg(F.count(F.lit(1)).alias("n3"))
    ctx2 = Window.partitionBy("p2", "p1")
    bi = t.groupBy("p1", "nxt").agg(F.count(F.lit(1)).alias("n2"))
    ctx1 = Window.partitionBy("p1")
    p2g = tri.withColumn("ctx_n", F.sum("n3").over(ctx2)).filter(
        F.col("ctx_n") >= 20
    )
    p1g = bi.withColumn("ctx1_n", F.sum("n2").over(ctx1))
    cond2 = F.col("n3").cast("double") / F.col("ctx_n").cast("double")
    cond1 = F.col("n2").cast("double") / F.col("ctx1_n").cast("double")
    return (
        p2g.join(F.broadcast(p1g), ["p1", "nxt"])
        .select(
            F.col("p2").alias("prev2"),
            F.col("p1").alias("prev1"),
            F.col("nxt").alias("next_type"),
            F.col("n3").cast("long").alias("n_obs"),
            snap_round(cond2, 6).alias("p2_cond"),
            snap_round(cond1, 6).alias("p1_cond"),
            snap_round(cond2 / cond1, 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), "prev2", "prev1", "next_type")
        .limit(20)
    )


MARKOV2_TRANSITIONS_SQL = """
WITH seq AS (
    SELECT event_type AS p2,
           LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p1,
           LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
    FROM events
),
t AS (SELECT * FROM seq WHERE nxt IS NOT NULL),
tri AS (SELECT p2, p1, nxt, COUNT(*) AS n3 FROM t GROUP BY 1, 2, 3),
p2g AS (
    SELECT *, SUM(n3) OVER (PARTITION BY p2, p1) AS ctx_n FROM tri
),
bi AS (SELECT p1, nxt, COUNT(*) AS n2 FROM t GROUP BY 1, 2),
p1g AS (
    SELECT *, SUM(n2) OVER (PARTITION BY p1) AS ctx1_n FROM bi
)
SELECT p2g.p2 AS prev2, p2g.p1 AS prev1, p2g.nxt AS next_type,
       CAST(p2g.n3 AS BIGINT) AS n_obs,
       CAST(ROUND(CAST(CAST(p2g.n3 AS DOUBLE) / CAST(p2g.ctx_n AS DOUBLE)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS p2_cond,
       CAST(ROUND(CAST(CAST(p1g.n2 AS DOUBLE) / CAST(p1g.ctx1_n AS DOUBLE)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS p1_cond,
       CAST(ROUND(CAST((CAST(p2g.n3 AS DOUBLE) / CAST(p2g.ctx_n AS DOUBLE))
                       / (CAST(p1g.n2 AS DOUBLE) / CAST(p1g.ctx1_n AS DOUBLE))
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS lift
FROM p2g JOIN p1g ON p2g.p1 = p1g.p1 AND p2g.nxt = p1g.nxt
WHERE p2g.ctx_n >= 20
ORDER BY lift DESC, prev2, prev1, next_type
LIMIT 20
"""
