"""Round-4 session-5 behavioral tests.

Covers the approx-percentile swap-in twins (round-3 verdict item 5): the
`_approx` registry queries must (a) report every accuracy-contract boolean
True on real data, and (b) produce sketch values genuinely close to the
exact statistics — a tolerance-banded check that the 100-TB path computes
the same quantity, not merely lands inside its own generous band.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from candyspark.plans import collect_registry

REGISTRY = collect_registry()
SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# approx swap-in twins
# ---------------------------------------------------------------------------


def test_robust_stats_approx_contract_holds(spark):
    rows = REGISTRY["robust_stats_approx"].fn(spark, SF).collect()
    assert rows, "no groups"
    for r in rows:
        assert r.q1_in_band and r.med_in_band and r.q3_in_band, r
        # bands are proper intervals derived from exact quantiles
        assert r.q1_band_lo <= r.q1_band_hi <= r.med_band_lo <= r.med_band_hi
        assert r.med_band_hi <= r.q3_band_lo <= r.q3_band_hi


def test_robust_stats_approx_close_to_exact(spark):
    exact = {
        r.l_returnflag: r
        for r in REGISTRY["robust_stats"].fn(spark, SF).collect()
    }
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    approx = {
        r.l_returnflag: r.qa
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.75], 1000).alias(
                "qa"
            )
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, (q1a, meda, q3a) in approx.items():
        e = exact[flag]
        # 1% relative tolerance — far tighter than the rank band, and the
        # falsifier for "sketch computes a different quantity"
        assert abs(q1a - e.q1) <= 0.01 * e.q1
        assert abs(meda - e.median_price) <= 0.01 * e.median_price
        assert abs(q3a - e.q3) <= 0.01 * e.q3


def test_quantile_normalize_approx_contract_holds(spark):
    rows = REGISTRY["quantile_normalize_approx"].fn(spark, SF).collect()
    assert len(rows) == 21
    assert all(r.in_band for r in rows), [r for r in rows if not r.in_band]
    # grid monotone: band bounds non-decreasing across p
    los = [r.band_lo for r in sorted(rows, key=lambda r: r.p)]
    assert los == sorted(los)


def test_distribution_distance_approx_contract_and_anchors(spark):
    twin = REGISTRY["distribution_distance_approx"].fn(spark, SF).collect()[0]
    base = REGISTRY["distribution_distance"].fn(spark, SF).collect()[0]
    assert twin.w1_in_bound and twin.ks_in_bound
    # the twin's exact anchors are bit-identical to the exact query's
    assert twin.wasserstein_grid == base.wasserstein_grid
    assert twin.max_quantile_gap == base.max_quantile_gap
    assert twin.n_returned == base.n_returned
    assert twin.n_kept == base.n_kept


def test_approx_band_falsifies_broken_path(spark):
    """The contract is not vacuous: a sketch queried at the WRONG prob
    (0.75 where the band expects 0.25) must land outside the band."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    from candyspark.operators.quantiles import exact_quantiles_grouped

    bands = (
        exact_quantiles_grouped(
            spark,
            li.select("l_returnflag", "l_extendedprice"),
            "l_returnflag",
            "l_extendedprice",
            [0.24, 0.26],
        )
        .groupBy("l_returnflag")
        .pivot("p", [0.24, 0.26])
        .agg(F.first("value"))
    )
    wrong = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.75, 1000).alias("v")
    )
    joined = wrong.join(bands, "l_returnflag").select(
        ((F.col("v") >= F.col("`0.24`")) & (F.col("v") <= F.col("`0.26`"))).alias(
            "in_band"
        )
    )
    assert not any(r.in_band for r in joined.collect())


# ---------------------------------------------------------------------------
# semantic_dedup quantizer-growth contract (round-3 verdict item 4)
# ---------------------------------------------------------------------------


def test_semantic_dedup_quantizer_balance_holds_as_n_grows(spark):
    """The within-cluster pair bound behind semantic_dedup's documented
    alpha <= 1.5: with k = ceil(sqrt(n)) lowest-id seeds, the pair join
    costs sum(|cluster|^2), which must track n^1.5 (balanced clusters of
    ~sqrt(n)) and not degenerate toward a mega-cluster (-> n^2) as n and
    ceil(sqrt(n)) grow. Measured at two real corpus sizes the ratio is
    1.01-1.02x n^1.5; the test allows 2x, and cross-size growth within
    1.2x of the (n2/n1)^1.5 law. The approach of the measured wall-time
    exponent toward 1.5 across decades (0.78 -> 1.15, SCALE_BENCH.json)
    is this design asymptote amortizing fixed overheads - not quantizer
    degradation, which THIS invariant would catch."""
    import math

    from candyspark.operators import similarity as S

    stats = {}
    for sf in ("sf0.01", "sf0.1"):
        e = spark.read.parquet(f"/root/testdata/{sf}/embeddings.parquet")
        n = e.count()
        k = math.ceil(math.sqrt(n))
        cents = F.broadcast(
            e.filter(F.col("vec_id") < k).select(
                F.col("vec_id").alias("cluster_id"),
                F.col("embedding").alias("c_vec"),
            )
        )
        sizes = [
            r.c
            for r in S.ivf_assign(e, cents)
            .groupBy("cluster_id")
            .agg(F.count("*").alias("c"))
            .collect()
        ]
        assert sum(sizes) == n  # every vector assigned exactly once
        assert max(sizes) <= 3.0 * math.sqrt(n), (sf, max(sizes))
        ss = sum(c * c for c in sizes)
        assert ss <= 2.0 * n**1.5, (sf, ss)
        stats[sf] = (n, ss)
    (n1, ss1), (n2, ss2) = stats["sf0.01"], stats["sf0.1"]
    assert ss2 / ss1 <= 1.2 * (n2 / n1) ** 1.5


# ---------------------------------------------------------------------------
# bucketed co-located join
# ---------------------------------------------------------------------------


def test_bucketed_join_plan_has_no_join_side_exchange(spark):
    """The point of the bucketed layout: the SortMergeJoin consumes the
    bucketed scans DIRECTLY — any Exchange below the join means the
    co-location failed and the fact-fact shuffle is back."""
    import contextlib
    import io

    df = REGISTRY["bucketed_join_no_shuffle"].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2, plan
    # walk the numbered operator tree: no Exchange may appear at or below
    # the join operator's subtree — equivalently, the join id must be
    # SMALLER than every Exchange id (formatted plans number bottom-up
    # within the tree printed above the details section)
    tree = plan.split("\n\n")[0]
    join_depth = min(
        len(ln) - len(ln.lstrip())
        for ln in tree.splitlines()
        if "SortMergeJoin" in ln
    )
    for ln in tree.splitlines():
        if "Exchange" in ln:
            depth = len(ln) - len(ln.lstrip())
            assert depth < join_depth, f"Exchange below the join:\n{tree}"


# ---------------------------------------------------------------------------
# fixtures (same shapes as test_round4_ops)
# ---------------------------------------------------------------------------


def _documents(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _lineitem(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_returnflag string, "
        "l_linestatus string, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_partkey long, l_suppkey long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def _li_row(i, flag, qty, price, disc):
    return (i, 1, flag, "F", float(qty), float(price), float(disc), 0.0, 1, 1)


# ---------------------------------------------------------------------------
# perceptual-hash near-dup
# ---------------------------------------------------------------------------


def test_phash_finds_planted_visual_dup(spark, tmp_path):
    """Two identical payloads hash to Hamming 0; a one-character text is a
    constant grid (all bits 0) and must NOT pair with structured texts."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "s", 44),
        (2, "the quick brown fox jumps over the lazy dog", "en", "s", 44),
        (3, "zzzzzzzzzz", "en", "s", 10),
        (4, "completely different content here with digits 123", "en", "s", 50),
    ]
    sf = _documents(spark, tmp_path, rows)
    out = {
        (r.doc_a, r.doc_b): r.hamming
        for r in REGISTRY["multimodal_phash_dedup"].fn(spark, sf).collect()
    }
    assert out.get((1, 2)) == 0
    assert (1, 3) not in out and (2, 3) not in out


def test_phash_band_recall_is_exact_at_threshold(spark):
    """Hamming <= 3 over 4x16 bands: pigeonhole guarantees one clean band,
    so the banded join must reproduce the all-pairs answer exactly. The
    oracle IS all-pairs; re-assert here against a brute-force recompute
    of the kernel on real data."""
    import itertools

    from candyspark.operators.multimodal import dhash_code

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").collect()
    codes = {r.doc_id: dhash_code(r.text.encode("utf-8")) for r in d}
    expect = set()
    for a, b in itertools.combinations(sorted(codes), 2):
        (ha, la), (hb, lb) = codes[a], codes[b]
        if bin(ha ^ hb).count("1") + bin(la ^ lb).count("1") <= 3:
            expect.add((a, b))
    got = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["multimodal_phash_dedup"].fn(spark, SF).collect()
    }
    assert got == expect and len(got) > 0


# ---------------------------------------------------------------------------
# CDF-trio additions: Anderson-Darling + Cramér-von Mises
# ---------------------------------------------------------------------------


def _ad_cvm_reference(rows):
    """Hand reference for both statistics on (flag, discount-cents) rows."""
    from collections import Counter

    a = Counter(v for f, v in rows if f == "R")
    b = Counter(v for f, v in rows if f != "R")
    na, nb = sum(a.values()), sum(b.values())
    vals = sorted(set(a) | set(b))
    ca = cb = 0
    a2 = 0.0
    cvm_num = 0
    for v in vals:
        l = a[v] + b[v]
        ca += a[v]
        cb += b[v]
        x = ca * nb - cb * na
        if ca + cb < na + nb:
            a2 += round(l * x * x / (na * nb * (ca + cb) * (na + nb - ca - cb)), 8)
        cvm_num += l * x * x
    n = na + nb
    return round(a2, 6), round(cvm_num / (n**2 * na * nb), 6)


def test_ad_cvm_match_hand_reference_and_separate_shift(spark, tmp_path):
    """A planted location shift (R discounts run 6-10, kept run 0-4) must
    drive both statistics past their asymptotic critical values, and the
    engine values must equal the hand-computed formulas exactly."""
    rows = []
    for i in range(300):
        rows.append(_li_row(i, "R", 1, 100.0, (6 + i % 5) / 100.0))
        rows.append(_li_row(10_000 + i, "N", 1, 100.0, (i % 5) / 100.0))
    sf = _lineitem(spark, tmp_path, rows)
    ad = REGISTRY["anderson_darling"].fn(spark, sf).collect()[0]
    cvm = REGISTRY["cramer_von_mises"].fn(spark, sf).collect()[0]
    ref_rows = [(r[2], round(r[6] * 100)) for r in rows]
    a2_ref, t_ref = _ad_cvm_reference(ref_rows)
    assert ad.a2 == pytest.approx(a2_ref, abs=1e-6)
    assert cvm.t_stat == pytest.approx(t_ref, abs=1e-6)
    assert ad.significant and cvm.significant


def test_ad_cvm_null_on_identical_distributions(spark, tmp_path):
    """Identical per-value proportions => both ECDFs coincide at every
    value => A2 = T = 0 exactly, not significant."""
    rows = []
    for i in range(200):
        rows.append(_li_row(i, "R", 1, 100.0, (i % 5) / 100.0))
        rows.append(_li_row(10_000 + i, "N", 1, 100.0, (i % 5) / 100.0))
    sf = _lineitem(spark, tmp_path, rows)
    ad = REGISTRY["anderson_darling"].fn(spark, sf).collect()[0]
    cvm = REGISTRY["cramer_von_mises"].fn(spark, sf).collect()[0]
    assert ad.a2 == 0.0 and not ad.significant
    assert cvm.t_stat == 0.0 and not cvm.significant


# ---------------------------------------------------------------------------
# regression diagnostics: VIF + Breusch-Pagan
# ---------------------------------------------------------------------------


def test_vif_flags_planted_collinearity(spark, tmp_path):
    """quantity built as price/10 + tiny alternating noise => r13 ~ 1 =>
    VIFs explode; independent columns stay near 1."""
    rows = [
        _li_row(i, "N", (100.0 + i) / 10.0 + (0.01 if i % 2 else -0.01),
                100.0 + i, (i % 5) / 100.0)
        for i in range(400)
    ]
    sf = _lineitem(spark, tmp_path, rows)
    out = REGISTRY["vif_collinearity"].fn(spark, sf).collect()[0]
    assert out.r_price_quantity > 0.999
    assert out.vif_price > 100 and out.vif_quantity > 100
    assert out.collinear


def test_breusch_pagan_null_on_exact_linear_model(spark, tmp_path):
    """Constant discount makes y EXACTLY linear in price => residuals are
    pure 4-dp quantization noise (all zero) => SST = 0 => no LM signal."""
    rows = [_li_row(i, "N", 1, 100.0 + i, 0.04) for i in range(300)]
    sf = _lineitem(spark, tmp_path, rows)
    out = REGISTRY["breusch_pagan"].fn(spark, sf).collect()[0]
    assert out.lm_stat is None or out.lm_stat < 5.991
    assert not out.heteroskedastic


def test_breusch_pagan_fires_on_planted_heteroskedasticity(spark, tmp_path):
    """Residual magnitude grows with price (the interaction term price x
    discount is unmodeled and discount alternates only at high prices):
    squared residuals correlate with x => LM > critical."""
    rows = []
    for i in range(600):
        price = 100.0 + i
        disc = 0.0 if i < 300 else (0.00 if i % 2 else 0.08)
        rows.append(_li_row(i, "N", 1, price, disc))
    sf = _lineitem(spark, tmp_path, rows)
    out = REGISTRY["breusch_pagan"].fn(spark, sf).collect()[0]
    assert out.lm_stat is not None and out.lm_stat > 5.991
    assert out.heteroskedastic


def test_partitioned_scan_prunes_to_one_month(spark):
    """The layout demo must actually prune: the parquet scan's
    PartitionFilters carry the month predicate and the file index reads
    exactly one partition directory (not 12+)."""
    import contextlib
    import io

    df = REGISTRY["partitioned_scan_pruning"].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    import re

    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "order_month" in pf[0], plan
    # count partitions actually selected: Spark prints the pruned file
    # index stats in the scan node — parse the integer, demand exactly 1
    counts = re.findall(r"partition count:?\s*(\d+)", plan, flags=re.I)
    if counts:  # present in this Spark's formatted output
        assert int(counts[0]) == 1, plan


def _events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def _orders(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
    df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


# ---------------------------------------------------------------------------
# CDC apply
# ---------------------------------------------------------------------------


def test_cdc_apply_tombstone_and_resurrection(spark, tmp_path):
    """Last-op-wins with deletes: a trailing tombstone erases the key, a
    tombstone followed by a later upsert resurrects it."""
    rows = [
        (1, "2024-01-01 10:00:00", 1, "purchase", 5.0, None),
        (2, "2024-01-01 11:00:00", 1, "error", 0.0, None),  # 1 deleted
        (3, "2024-01-01 10:00:00", 2, "error", 0.0, None),
        (4, "2024-01-01 11:00:00", 2, "purchase", 7.0, None),  # 2 resurrected
        (5, "2024-01-01 10:00:00", 3, "view", 1.0, None),
        (6, "2024-01-01 11:00:00", 3, "click", 2.0, None),  # 3 latest wins
    ]
    sf = _events(spark, tmp_path, rows)
    out = {r.user_id: r for r in REGISTRY["cdc_apply"].fn(spark, sf).collect()}
    assert 1 not in out
    assert out[2].last_value == 7.0 and out[2].n_ops == 2
    assert out[3].last_value == 2.0


# ---------------------------------------------------------------------------
# quantile (LAD) regression
# ---------------------------------------------------------------------------


def test_lad_regression_resists_planted_outliers(spark, tmp_path):
    """Daily revenue follows 1000 + 20·day exactly except 4 blowout days
    at 100×. The LAD slope must stay near 20 while the OLS seed is
    dragged; LAD must win on absolute error."""
    import datetime

    rows = []
    d0 = datetime.date(2024, 1, 1)
    for i in range(120):
        day = d0 + datetime.timedelta(days=i)
        price = 1000.0 + 20.0 * i
        if i in (20, 50, 80, 110):
            price *= 100
        rows.append((i, 1, "O", price, day.isoformat(), "1-URGENT"))
    sf = _orders(spark, tmp_path, rows)
    out = REGISTRY["quantile_regression"].fn(spark, sf).collect()[0]
    assert out.n_days == 120
    assert abs(out.lad_slope - 20.0) < 2.0, out
    assert out.mae_lad < out.mae_ols
    assert out.lad_no_worse


def test_tukey_hsd_separates_planted_group(spark, tmp_path):
    """Flags A and B share a mean; flag R sits far above both: exactly
    the two pairs involving R are significant."""
    rows = []
    for i in range(200):
        rows.append(_li_row(i, "A", 1, 100.0 + (i % 7), 0.0))
        rows.append(_li_row(1000 + i, "B", 1, 100.0 + ((i + 3) % 7), 0.0))
        rows.append(_li_row(2000 + i, "R", 1, 500.0 + (i % 7), 0.0))
    sf = _lineitem(spark, tmp_path, rows)
    out = {
        (r.flag_a, r.flag_b): r.significant
        for r in REGISTRY["tukey_hsd"].fn(spark, sf).collect()
    }
    assert out == {("A", "B"): False, ("A", "R"): True, ("B", "R"): True}


def test_nested_f_test_planted(spark, tmp_path):
    """Constant discount: price alone explains y exactly => F ~ 0.
    Varying discount: the second regressor must add signal => F fires."""
    flat = [_li_row(i, "N", 1, 100.0 + i, 0.04) for i in range(300)]
    sf = _lineitem(spark, tmp_path, flat)
    out = REGISTRY["nested_f_test"].fn(spark, sf).collect()[0]
    assert out.f_stat is None or out.f_stat < 3.841
    assert not out.discount_adds_signal

    varied = [
        _li_row(i, "N", 1, 100.0 + i, (i % 5) * 0.02) for i in range(300)
    ]
    sf2 = _lineitem(spark, tmp_path / "v", varied)
    out2 = REGISTRY["nested_f_test"].fn(spark, sf2).collect()[0]
    assert out2.f_stat > 3.841 and out2.discount_adds_signal
