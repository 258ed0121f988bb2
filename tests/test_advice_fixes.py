"""Edge-case regressions from the round-1 advisor findings (ADVICE.md):

- exact_quantiles / exact_quantiles_grouped must survive NaN doubles (a NaN
  reaching the min/max bucket bounds turns every bucket id NULL and the
  result silently empties);
- fuzzy_qgram_join's prefix filter is vacuous when both names have ≤ 2
  distinct q-grams — those pairs must come from the short-name all-pairs
  branch;
- markov_attribution's linear solve must tolerate a channel whose observed
  transitions are 100% self-loop (zero diagonal without pivoting).
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pytest

from pyspark.sql import functions as F


def test_exact_quantiles_ignores_nan(spark):
    from candyspark.operators.quantiles import exact_quantiles

    vals = [1.0, float("nan"), 2.0, 3.0, float("nan"), 4.0, 5.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    probs = [0.0, 0.25, 0.5, 0.9, 1.0]
    got = {
        r["p"]: r["value"]
        for r in exact_quantiles(spark, df, "x", probs, n_buckets=8).collect()
    }
    clean = np.array([v for v in vals if not math.isnan(v)])
    for p in probs:
        assert got[p] == pytest.approx(np.quantile(clean, p), abs=1e-12)


def test_exact_quantiles_grouped_ignores_nan(spark):
    from candyspark.operators.quantiles import exact_quantiles_grouped

    rows = [("a", 1.0), ("a", float("nan")), ("a", 3.0), ("b", 10.0), ("b", 20.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    out = exact_quantiles_grouped(spark, df, "g", "x", [0.5], n_buckets=4).collect()
    med = {r["g"]: r["value"] for r in out}
    assert med == {"a": pytest.approx(2.0), "b": pytest.approx(15.0)}


def test_exact_quantiles_discrete_matches_percentile_disc(spark):
    """discrete=True must equal Spark's percentile_disc / DuckDB's
    PERCENTILE_DISC (smallest value with cume_dist ≥ p) — including ties,
    p=0 and p=1."""
    from candyspark.operators.quantiles import exact_quantiles

    vals = [5.0, 1.0, 3.0, 3.0, 2.0, 8.0, 13.0]
    probs = [0.0, 0.05, 0.25, 0.5, 0.75, 0.95, 1.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {
        r["p"]: r["value"]
        for r in exact_quantiles(
            spark, df, "x", probs, n_buckets=4, discrete=True
        ).collect()
    }
    s = sorted(vals)
    for p in probs:
        k = min(max(math.ceil(len(s) * p) - 1, 0), len(s) - 1)
        want = s[k]
        ref = df.selectExpr(
            f"percentile_disc({p}) WITHIN GROUP (ORDER BY x) AS v"
        ).collect()[0]["v"]
        assert got[p] == want == ref, (p, got[p], want, ref)


def test_fuzzy_qgram_short_names(spark, tmp_path):
    """'ab'/'ac' are distance 1 but share no q-gram: only the short-name
    all-pairs branch can find them."""
    from candyspark.plans.behavior import q_fuzzy_qgram_join

    names = ["ab", "ac", "almond aquamarine yellow", "almond aquamarine mellow"]
    part = spark.createDataFrame(
        [(i, n, "B", "T", 1, 1.0) for i, n in enumerate(names)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    part.write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    got = {
        (r["name_a"], r["name_b"])
        for r in q_fuzzy_qgram_join(spark, str(tmp_path)).collect()
    }
    assert ("ab", "ac") in got
    assert ("almond aquamarine mellow", "almond aquamarine yellow") in got


def test_markov_solver_pure_self_loop():
    """A state whose observed transitions are 100% self-loop puts a hard 0
    on the (I - Q) diagonal: the solve must pin that state's conversion
    probability to 0 instead of dividing by zero."""
    from candyspark.plans.ml import _absorbing_conv_prob

    states = ["START", "click", "view"]
    mat = {
        "START": {"click": 1, "view": 1},
        "click": {"click": 5},  # pure self-loop: 1 - p_self = 0
        "view": {"purchase": 1},
    }
    base = _absorbing_conv_prob(states, mat, "purchase", None)
    assert base == pytest.approx(0.5)  # view half converts, click half never
    # removing the self-loop channel changes nothing (it never converted)
    assert _absorbing_conv_prob(states, mat, "purchase", "click") == pytest.approx(0.5)


def test_markov_query_end_to_end(spark, tmp_path):
    """The registry query still runs against a tiny synthetic events table
    with heavy self-loops and never-visited channels."""
    from candyspark.plans.ml import q_markov_attribution

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for m in range(5):  # user 1: click self-loops 4x, then unconverted end
        rows.append((m + 1, t0 + dt.timedelta(minutes=m), 1, "click", 1.0, "{}"))
    rows.append((10, t0, 2, "view", 1.0, "{}"))
    rows.append((11, t0 + dt.timedelta(minutes=1), 2, "purchase", 1.0, "{}"))
    # 'signup' never appears: tot == 0 guard path
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    events.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r["channel"]: r for r in q_markov_attribution(spark, str(tmp_path)).collect()}
    assert out["click"]["removal_effect"] == pytest.approx(0.0)
    assert out["view"]["removal_effect"] > 0


def test_exact_quantiles_grouped_caller_bounds(spark):
    """Supplying bounds_rows (even OVER-covering lo/hi) must give identical
    quantiles to the self-computed-bounds path — the contract robust_stats'
    shared-bounds optimization leans on (its dev pass derives [0, max-dev]
    algebraically instead of re-scanning)."""
    from candyspark.operators.quantiles import (
        exact_quantiles_grouped,
        exact_quantiles_grouped_rows,
    )

    rows = [("a", float(v)) for v in [3, 1, 4, 1, 5, 9, 2, 6]] + [
        ("b", float(v)) for v in [10, 30, 20]
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    probs = [0.0, 0.25, 0.5, 1.0]
    base = {
        (r["g"], r["p"]): r["value"]
        for r in exact_quantiles_grouped(spark, df, "g", "x", probs, n_buckets=8).collect()
    }
    wide = [
        {"grp": "a", "lo": -100.0, "hi": 100.0, "n": 8},
        {"grp": "b", "lo": 0.0, "hi": 1000.0, "n": 3},
    ]
    got = {
        (g, p): v
        for g, p, v in exact_quantiles_grouped_rows(
            spark, df, "g", "x", probs, n_buckets=8, bounds_rows=wide
        )
    }
    assert got == base


def test_mann_whitney_matches_bruteforce(spark, tmp_path):
    """The bounded-support rank construction must equal the textbook
    definition (midranks, tie-corrected variance) on small tied data."""
    import math
    import random

    rng = random.Random(11)
    rows = [
        (float(rng.randint(1, 6)), "R" if rng.random() < 0.45 else "N")
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "l_quantity double, l_returnflag string")
    df.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    from candyspark.plans.quality import q_mann_whitney

    got = q_mann_whitney(spark, str(tmp_path)).collect()[0]

    xs = sorted((int(q), f) for q, f in rows)
    vals = sorted({v for v, _ in xs})
    ranks = {}
    start = 1
    for v in vals:
        t = sum(1 for x, _ in xs if x == v)
        ranks[v] = start + (t - 1) / 2.0
        start += t
    ra = sum(ranks[x] for x, f in xs if f == "R")
    n_a = sum(1 for _, f in xs if f == "R")
    n_b = len(xs) - n_a
    u = ra - n_a * (n_a + 1) / 2.0
    n = n_a + n_b
    t_corr = sum(
        (sum(1 for x, _ in xs if x == v)) ** 3 - sum(1 for x, _ in xs if x == v)
        for v in vals
    )
    var = n_a * n_b / 12.0 * ((n + 1) - t_corr / (n * (n - 1)))
    z = (u - n_a * n_b / 2.0) / math.sqrt(var)
    assert got["n_a"] == n_a and got["n_b"] == n_b
    assert abs(got["u_stat"] - u) < 1e-9
    assert abs(got["z"] - z) < 1e-6


def test_lorenz_curve_properties(spark):
    """Lorenz output is a valid concentration curve: shares sum to 1,
    cumulative share is nondecreasing and ends at 1, deciles partition
    the customers."""
    import duckdb

    from candyspark.plans.outliers import q_lorenz_curve

    SF = "/root/testdata/sf0.01"
    rows = q_lorenz_curve(spark, SF).collect()
    total_share = sum(r["revenue_share"] for r in rows)
    assert abs(total_share - 1.0) < 1e-4
    cums = [r["cum_revenue_share"] for r in rows]
    assert all(b >= a - 1e-9 for a, b in zip(cums, cums[1:]))
    assert abs(cums[-1] - 1.0) < 1e-6
    n_customers = duckdb.sql(
        f"SELECT COUNT(DISTINCT o_custkey) FROM '{SF}/orders.parquet'"
    ).fetchone()[0]
    assert sum(r["n_customers"] for r in rows) == n_customers
    # Lorenz curve lies under the diagonal (concentration is real):
    # bottom deciles own less than their population share
    assert cums[0] < 0.1 + 1e-6


def test_ndcg_bounds_and_brown_forsythe_sign(spark):
    """NDCG ∈ (0, 1]; Brown-Forsythe F is nonnegative with the stated
    group count."""
    from candyspark.plans.quality import q_brown_forsythe
    from candyspark.plans.retrieval import q_ndcg_eval

    SF = "/root/testdata/sf0.01"
    nd = q_ndcg_eval(spark, SF).collect()[0]
    assert 0.0 < nd["ndcg_20"] <= 1.0
    assert nd["dcg_20"] <= nd["idcg_20"] + 1e-9
    bf = q_brown_forsythe(spark, SF).collect()[0]
    assert bf["f_stat"] >= 0.0
    assert bf["n_groups"] == 3


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_ips_recovers_planted_effect_under_confounding(spark, tmp_path):
    """Two strata with very different base outcomes; treatment is heavily
    confounded with stratum. The naive gap must be badly biased while IPS
    lands near the planted +7 effect."""
    import datetime as dt
    import random

    rng = random.Random(5)
    rows = []
    eid = 0
    t0 = dt.datetime(2025, 1, 1)
    for uid in range(3000):
        hi_stratum = uid % 2 == 1
        # stratum proxy: event count (>=8 vs 2 after the purchase/click rows)
        n_fill = 8 if hi_stratum else 1
        p_treat = 0.8 if hi_stratum else 0.2
        treated = rng.random() < p_treat
        base = 100.0 if hi_stratum else 0.0
        y = base + (7.0 if treated else 0.0) + rng.uniform(-1, 1)
        for _ in range(n_fill):
            rows.append((eid, t0, uid, "view", 1.0, "")); eid += 1
        if treated:
            rows.append((eid, t0, uid, "click", 1.0, "")); eid += 1
        rows.append((eid, t0, uid, "purchase", y, "")); eid += 1
    sf = _write_events(spark, tmp_path, rows)

    from candyspark.plans.quality import q_ips_ate

    got = q_ips_ate(spark, sf).collect()[0]
    assert abs(got["ate_ips"] - 7.0) < 3.0, got
    assert abs(got["naive_diff"] - 7.0) > 10.0, got


def test_did_recovers_planted_lift_under_parallel_trends(spark, tmp_path):
    """Control rises 10→15 (a pure time shock), treated 30→35+9. The DiD
    estimate must isolate the planted +9 while both raw changes include
    the +5 shock."""
    import datetime as dt
    import random

    rng = random.Random(9)
    rows = []
    eid = 0
    pre = dt.datetime(2025, 1, 1)
    post = dt.datetime(2025, 12, 31)
    for uid in range(2000):
        treated = uid % 2 == 0
        if treated:
            rows.append((eid, pre, uid, "click", 1.0, "")); eid += 1
        y_pre = (30.0 if treated else 10.0) + rng.uniform(-1, 1)
        y_post = (
            (30.0 if treated else 10.0)
            + 5.0
            + (9.0 if treated else 0.0)
            + rng.uniform(-1, 1)
        )
        rows.append((eid, pre, uid, "purchase", y_pre, "")); eid += 1
        rows.append((eid, post, uid, "purchase", y_post, "")); eid += 1
    sf = _write_events(spark, tmp_path, rows)

    from candyspark.plans.quality import q_diff_in_diff

    got = q_diff_in_diff(spark, sf).collect()[0]
    assert abs(got["did_estimate"] - 9.0) < 1.0, got
    assert got["treated_change"] > 12.0  # includes the +5 shock
    assert abs(got["control_change"] - 5.0) < 1.0


def test_rd_recovers_planted_jump(spark, tmp_path):
    """Customers with a planted +6 order-count jump at acctbal = 0 and a
    smooth slope elsewhere: the RD estimate must isolate the jump."""
    import random

    rng = random.Random(17)
    cust, orders = [], []
    oid = 0
    for uid in range(4000):
        bal = rng.uniform(-1000, 1000)
        lam = 10.0 + 0.004 * bal + (6.0 if bal >= 0 else 0.0)
        n_orders = max(0, int(round(lam + rng.uniform(-1, 1))))
        cust.append((uid, round(bal, 2)))
        for _ in range(n_orders):
            orders.append((oid, uid)); oid += 1
    spark.createDataFrame(cust, "c_custkey long, c_acctbal double").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(orders, "o_orderkey long, o_custkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "orders.parquet"))

    from candyspark.plans.quality import q_regression_discontinuity

    got = q_regression_discontinuity(spark, str(tmp_path)).collect()[0]
    assert abs(got["rd_estimate"] - 6.0) < 1.0, got


def test_mediation_full_and_null_channels(spark, tmp_path):
    """Planted causal channels: when y depends on x ONLY through m, the
    mediated share ≈ 1; when y depends on x directly and m is x-independent
    noise, the share ≈ 0."""
    import random

    from candyspark.plans.quality import q_mediation_analysis

    def write(rows, p):
        spark.createDataFrame(
            rows, "l_discount double, l_quantity double, l_returnflag string"
        ).write.mode("overwrite").parquet(str(p / "lineitem.parquet"))

    rng = random.Random(23)
    # full mediation: m = 5x + noise; P(y) rises with m only
    rows = []
    for _ in range(20000):
        x = rng.choice([0, 2, 4, 6, 8, 10])
        m = 5 * x + rng.randint(0, 8)
        y = "R" if rng.random() < min(0.9, 0.01 * m) else "N"
        rows.append((x / 100.0, float(m), y))
    full = tmp_path / "full"
    full.mkdir()
    write(rows, full)
    got = q_mediation_analysis(spark, str(full)).collect()[0]
    assert got["mediated_share"] > 0.8, got

    # null mediation: m is pure noise; P(y) rises with x only
    rows = []
    for _ in range(20000):
        x = rng.choice([0, 2, 4, 6, 8, 10])
        m = rng.randint(1, 50)
        y = "R" if rng.random() < 0.05 + 0.05 * x / 10.0 else "N"
        rows.append((x / 100.0, float(m), y))
    null = tmp_path / "null"
    null.mkdir()
    write(rows, null)
    got = q_mediation_analysis(spark, str(null)).collect()[0]
    assert abs(got["mediated_share"]) < 0.2, got


def test_shapley_dominant_channel_wins(spark, tmp_path):
    """A planted world where conversions happen iff the journey includes
    'click': click's Shapley value must dominate both other channels."""
    import datetime as dt
    import random

    rng = random.Random(31)
    rows = []
    eid = 0
    day = dt.datetime(2025, 3, 1)
    for uid in range(4000):
        touched = {
            ch for ch in ("view", "click", "signup") if rng.random() < 0.5
        }
        for ch in sorted(touched):
            rows.append((eid, day, uid, ch, 1.0, "")); eid += 1
        if "click" in touched and rng.random() < 0.9:
            rows.append((eid, day, uid, "purchase", 5.0, "")); eid += 1
        if not touched:
            rows.append((eid, day, uid, "error", 0.0, "")); eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    from candyspark.plans.sequences import q_shapley_attribution

    got = {r["channel"]: r["shapley_value"]
           for r in q_shapley_attribution(spark, str(tmp_path)).collect()}
    assert got["click"] > 0.5, got
    assert got["click"] > 5 * abs(got["view"]), got
    assert got["click"] > 5 * abs(got["signup"]), got


def test_greedy_allocate_tie_rounds_half_away(spark):
    # Round-5 advisor: line_total must snap through DECIMAL(28,8) (half-away)
    # like the oracle's ROUND, not numpy ties-to-even. 3 * 1.675 = 5.025 —
    # a .5 tie at 2 dp: half-away gives 5.03, ties-to-even gives 5.02.
    from candyspark.operators.allocation import allocate_greedy

    df = spark.createDataFrame(
        [(1, 1, 3.0, 100.0, 1.675), (1, 2, 1.0, 100.0, 0.125)],
        "grp int, seq int, qty double, stock double, price double",
    )
    out = {
        r["seq"]: r["line_total"]
        for r in allocate_greedy(
            df, group_col="grp", order_cols=["seq"], qty_col="qty",
            stock_col="stock", unit_price_col="price",
            out_keys=["grp", "seq"],
        ).collect()
    }
    assert out[1] == 5.03, out  # ties-to-even would yield 5.02
    assert out[2] == 0.13, out  # 0.125 -> 0.13 half-away (0.12 ties-to-even)


def test_jonckheere_fractional_quantity_snap(spark, tmp_path):
    # Round-5 advisor: Spark cast("long") truncates while DuckDB CAST rounds.
    # With a fractional quantity (25.7) both sides must now agree on ROUND
    # first — pin the Spark side's cell value against explicit rounding.
    import duckdb

    rows = [
        (1, 1, 1, 25.7, 100.0, 0.05, dt.date(2024, 1, 1)),
        (2, 2, 1, 25.2, 100.0, 0.05, dt.date(2024, 1, 2)),
        (3, 3, 1, 10.5, 50.0, 0.10, dt.date(2024, 1, 3)),
        (4, 4, 1, 30.0, 120.0, 0.00, dt.date(2024, 1, 4)),
        (5, 5, 1, 12.0, 60.0, 0.10, dt.date(2024, 1, 5)),
        (6, 6, 1, 40.0, 160.0, 0.00, dt.date(2024, 1, 6)),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_discount double, l_shipdate date",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    from candyspark.plans.stats4 import JONCKHEERE_TERPSTRA_SQL, q_jonckheere_terpstra

    got = q_jonckheere_terpstra(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet/*.parquet')"
    )
    want = con.execute(JONCKHEERE_TERPSTRA_SQL).df()
    con.close()
    from tests.oracle import compare_frames

    compare_frames(got, want, "jonckheere_fractional")
