"""Round-3 behavioral tests: planted-signal and bound-pinning checks for the
queries re-parameterized or added this round (round-2 verdict items 2/3/5)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from candyspark.plans import collect_registry

REGISTRY = collect_registry()
SF1 = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.1"


@pytest.mark.parametrize(
    "sf_dir,n_vectors", [(SF1, 500), (SF2, 2000)], ids=["sf0.001", "sf0.1"]
)
def test_semantic_dedup_centroids_scale_with_corpus(spark, sf_dir, n_vectors):
    """n_centroids = ceil(sqrt(n)) at two corpus sizes (verdict item 3):
    the quantizer must grow with the corpus so the within-cluster pair
    join stays bounded — a fixed constant degenerates toward all-pairs/k."""
    k = math.ceil(math.sqrt(n_vectors))
    out = REGISTRY["semantic_dedup"].fn(spark, sf_dir)
    rows = out.select("cluster_id").distinct().collect()
    cluster_ids = {r.cluster_id for r in rows}
    # every assignment lands on a seeded centroid, and the seeds are the
    # lowest-id vectors — so ids live in [0, k) and (almost) all are used
    assert max(cluster_ids) < k
    assert len(cluster_ids) > k // 2  # the quantizer actually spreads


def test_semantic_dedup_cluster_bound_holds(spark):
    """The √n rule keeps the biggest cluster near √n (the IVF balance
    point) rather than n/16 — the structural claim behind the rewrite."""
    out = REGISTRY["semantic_dedup"].fn(spark, SF1)
    sizes = out.groupBy("cluster_id").count().collect()
    n = sum(r["count"] for r in sizes)
    assert n == 500
    # uniform-ish synthetic embeddings: no cluster should swallow the
    # corpus (the hard-coded-16 failure mode would put ~31 rows/cluster
    # at this size; we only require the bound is not catastrophically
    # broken, since real cluster balance is data-dependent)
    assert max(r["count"] for r in sizes) < n / 2


def test_robust_outliers_flags_planted_extreme(spark):
    """The re-parameterized 1.3 cutoff (verdict item 2) actually fires:
    the flagged set is the extreme price tail, non-empty, and every
    flagged |modified z| exceeds the cutoff."""
    out = REGISTRY["robust_outliers"].fn(spark, SF1).collect()
    assert len(out) > 0
    assert all(abs(r.modified_z) > 1.3 for r in out)


def test_max_drawdown_is_positive(spark):
    """The level-series rewrite (verdict item 2): daily revenue
    fluctuates, so the deepest fall from a prior peak must be > 0 — the
    old cumulative-sum form was identically 0 by construction."""
    row = REGISTRY["max_drawdown"].fn(spark, SF1).collect()[0]
    assert row.max_drawdown > 0.0


def test_retention_cohorts_weekly_matrix(spark):
    """Week-grain cohorts (verdict item 2): the fixture spans ~5 ISO
    weeks, so the retention triangle must have >1 row and weeks_since
    must cover more than just 0."""
    rows = REGISTRY["retention_cohorts"].fn(spark, SF1).collect()
    assert len(rows) > 1
    assert max(r.weeks_since for r in rows) >= 1
    assert all(r.active_users > 0 for r in rows)


@pytest.mark.parametrize("sf_dir", [SF1, "/root/testdata/sf0.01"])
def test_markov_pivot_search_selects_natural_order(spark, sf_dir):
    """The markov_attribution SQL oracle unrolls a NO-pivot Gauss-Jordan;
    it is bit-exact against the driver solve only while the driver's
    partial-pivot search selects the natural row order. Assert that on
    the fixture chains (diagonally dominant) it always does — if a future
    fixture breaks this, the oracle must grow the pivot CASEs."""
    import duckdb

    from candyspark.plans.ml import _CHANNELS

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    counts = con.execute("""
        WITH first_p AS (
          SELECT user_id, MIN(ts) AS p_ts FROM events
          WHERE event_type='purchase' GROUP BY user_id),
        ev AS (
          SELECT e.user_id, e.event_type, e.ts, e.event_id
          FROM events e LEFT JOIN first_p USING (user_id)
          WHERE e.event_type IN ('click','signup','view','purchase')
            AND (p_ts IS NULL OR e.ts <= p_ts)),
        seq AS (
          SELECT event_type AS state,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn,
                 LEAD(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS next_state
          FROM ev)
        SELECT src, dst, COUNT(*) FROM (
          SELECT state AS src, COALESCE(next_state,'NULL') AS dst
          FROM seq WHERE state != 'purchase'
          UNION ALL SELECT 'START', state FROM seq WHERE rn = 1
        ) GROUP BY 1, 2
    """).fetchall()
    states = ["START", *_CHANNELS]
    mat = {s: {} for s in states}
    for src, dst, n in counts:
        if src in mat:
            mat[src][dst] = n
    for removed in [None, *_CHANNELS]:
        n = len(states)
        A = [[1.0 if i == j else 0.0 for j in range(n)] for i in range(n)]
        for i, s in enumerate(states):
            if s == removed:
                continue
            row = mat[s]
            tot = sum(row.values())
            for dst, c in sorted(row.items()):
                if dst in states and dst != removed:
                    A[i][states.index(dst)] -= c / tot
        for col in range(n):
            r_max = max(range(col, n), key=lambda r: abs(A[r][col]))
            assert abs(A[r_max][col]) >= 1e-12, (removed, col)
            assert r_max == col, (removed, col, r_max)
            piv = A[col][col]
            for r2 in range(n):
                if r2 == col:
                    continue
                f = A[r2][col] / piv
                for c2 in range(n):
                    A[r2][c2] -= f * A[col][c2]


def test_heaps_law_trigram_beta_nonzero(spark):
    """Trigram vocabulary (verdict item 2): the fitted Heaps beta must
    show real vocabulary growth (the unigram form saturated at beta=0)."""
    row = REGISTRY["heaps_law"].fn(spark, SF1).collect()[0]
    assert 0.5 < row.heaps_beta < 1.0


def _lineitem(spark, tmp_path, rows):
    """Minimal planted lineitem: (orderkey, linenumber, returnflag,
    linestatus, quantity, extendedprice)."""
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_returnflag string, "
        "l_linestatus string, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_partkey long, l_suppkey long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def test_kruskal_wallis_detects_planted_shift(spark, tmp_path):
    """Planted signal: cohort 'A' quantities shifted far above 'N'/'R' →
    H must exceed the χ²(2) critical value; identical cohorts → small H."""
    shifted = [
        (i, 1, flag, "F", float(q), 100.0, 0.0, 0.0, 1, 1)
        for i, (flag, q) in enumerate(
            [("A", 40 + (i % 5)) for i in range(60)]
            + [("N", 10 + (i % 5)) for i in range(60)]
            + [("R", 12 + (i % 5)) for i in range(60)]
        )
    ]
    sf = _lineitem(spark, tmp_path, shifted)
    row = REGISTRY["kruskal_wallis"].fn(spark, sf).collect()[0]
    assert row.distributions_differ
    assert row.h_statistic > 50  # massive separation

    same = [
        (i, 1, flag, "F", float(10 + (i % 7)), 100.0, 0.0, 0.0, 1, 1)
        for i, flag in enumerate(["A", "N", "R"] * 60)
    ]
    sf2 = _lineitem(spark, tmp_path / "same", same)
    row2 = REGISTRY["kruskal_wallis"].fn(spark, sf2).collect()[0]
    assert not row2.distributions_differ


def test_iv_2sls_recovers_planted_effect(spark, tmp_path):
    """Planted causal structure: purchases x = signups z (perfect first
    stage), spend y = 5·x exactly → iv_beta must recover 5.0 and the
    first stage must be strong."""
    rows = []
    eid = 0
    for u in range(200):
        z = u % 4  # 0..3 signups
        for _ in range(z):
            rows.append((eid, "2024-01-05 00:00:00", u, "signup", 0.0, "{}"))
            eid += 1
        for _ in range(z):  # purchases driven by the instrument
            rows.append((eid, "2024-01-06 00:00:00", u, "purchase", 5.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    row = REGISTRY["iv_2sls"].fn(spark, str(tmp_path)).collect()[0]
    assert row.iv_beta == pytest.approx(5.0, abs=1e-6)
    assert row.first_stage_coef == pytest.approx(1.0, abs=1e-6)
    # a PERFECT first stage reports NULL F (infinite) by the guard
    assert row.first_stage_f is None


def test_decile_lift_orders_planted_quality(spark, tmp_path):
    """Planted ranking signal: English docs get long, clean text (high
    quality score); others get terse junk → the top decile must be
    English-enriched (lift > 1) and cum_gain must be monotone to 1."""
    texts, langs = [], []
    for i in range(200):
        if i % 2 == 0:
            texts.append("the quick brown fox jumps over the lazy dog " * 8)
            langs.append("en")
        else:
            texts.append("x! y? z.")
            langs.append("de")
    import tests.test_round2_ops as r2

    sf = r2._docs(spark, tmp_path, texts, langs)
    rows = REGISTRY["decile_lift"].fn(spark, sf).collect()
    assert rows[0].lift > 1.5  # top decile pure English
    gains = [r.cum_gain for r in rows]
    assert gains == sorted(gains) and gains[-1] == pytest.approx(1.0)


def test_entropy_profile_planted_degenerate_column(spark, tmp_path):
    """A constant column must profile at exactly 0 entropy; a uniform
    two-value column at ln(2)-normalized 1.0."""
    rows = [
        (i, 1, "A", "F" if i % 2 == 0 else "O", 1.0, 10.0, 0.0, 0.0, 1, 1)
        for i in range(100)
    ]
    sf = _lineitem(spark, tmp_path, rows)
    o = spark.createDataFrame(
        [(i, i, "O", 10.0, "2024-01-01", "1-URGENT") for i in range(10)],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    o.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = {r.col: r for r in REGISTRY["entropy_profile"].fn(spark, sf).collect()}
    assert got["l_returnflag"].entropy == 0.0  # constant column
    assert got["l_returnflag"].cardinality == 1
    assert got["l_linestatus"].normalized_entropy == pytest.approx(1.0, abs=1e-6)
    assert got["o_orderstatus"].entropy == 0.0


def test_importance_resampling_prefers_quality(spark, tmp_path):
    """Planted quality split: high-quality source must keep a much larger
    fraction than junk, and the kept mean quality can't fall below the
    before mean."""
    texts, langs = [], []
    for i in range(400):
        if i < 200:
            texts.append("the quick brown fox jumps over the lazy dog " * 6)
        else:
            texts.append("!!!! ?? ..")
        langs.append("en")
    import tests.test_round2_ops as r2

    # _docs assigns source per doc id — regroup into two sources
    rows = [
        (i, t, "en", "good" if i < 200 else "junk", len(t))
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.source: r
        for r in REGISTRY["importance_resampling"].fn(spark, str(tmp_path)).collect()
    }
    assert got["good"].kept_rate > 0.5
    assert got["junk"].kept_rate < 0.1
    for r in got.values():
        if r.n_kept > 0:
            assert r.mean_quality_kept >= r.mean_quality_before - 1e-9


# --- session-2 operators ----------------------------------------------------


def _src_docs(spark, tmp_path, rows):
    """documents fixture with explicit (doc_id, text, lang, source)."""
    df = spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, (t, lang, src) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _orders(spark, tmp_path, rows):
    """orders fixture: (o_orderkey, o_custkey, o_totalprice, o_orderdate)."""
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
    df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_mann_kendall_detects_planted_trend(spark, tmp_path):
    """A strictly increasing daily series has S = n(n−1)/2 exactly and must
    read 'increasing'; a constant series has S = 0 and must read
    'no_trend' (all pairs tie, the tie-corrected variance handles it)."""
    up = [(i, 1, 100.0 + i, f"2024-{1 + i // 28:02d}-{1 + i % 28:02d}") for i in range(56)]
    row = REGISTRY["mann_kendall"].fn(spark, _orders(spark, tmp_path, up)).collect()[0]
    assert row.s_stat == 56 * 55 // 2
    assert row.trend == "increasing" and row.z > 1.96

    flat = [(i, 1, 100.0, f"2024-{1 + i // 28:02d}-{1 + i % 28:02d}") for i in range(56)]
    row2 = REGISTRY["mann_kendall"].fn(
        spark, _orders(spark, tmp_path / "flat", flat)
    ).collect()[0]
    assert row2.s_stat == 0 and row2.trend == "no_trend"


def test_cramers_v_planted_association(spark, tmp_path):
    """Perfect association (each event type pinned to its own weekday) →
    V = 1; type independent of weekday → V ≈ 0."""
    types = ["click", "view", "purchase"]
    # 2024-01-01 is a Monday; day offset d has isodow d+1
    perfect = [
        (i, f"2024-01-{1 + (i % 3) + 7 * (i % 5):02d} 12:00:00", i, types[i % 3], 1.0, "{}")
        for i in range(300)
    ]
    df = spark.createDataFrame(
        perfect,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    row = REGISTRY["cramers_v"].fn(spark, str(tmp_path)).collect()[0]
    assert row.cramers_v == pytest.approx(1.0, abs=1e-6)
    assert row.effect == "large"
    # the zero-cell-safe identity: chi2 on this grid is exactly n·(min−1)
    chi = REGISTRY["chi2_independence"].fn(spark, str(tmp_path)).collect()[0]
    assert chi.chi2 == pytest.approx(600.0, abs=1e-6)

    # independence: every (type, dow) cell equally filled
    indep = []
    eid = 0
    for d in range(7):
        for t in types:
            for _ in range(10):
                indep.append((eid, f"2024-01-{1 + d:02d} 12:00:00", eid, t, 1.0, "{}"))
                eid += 1
    df2 = spark.createDataFrame(
        indep,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df2.write.mode("overwrite").parquet(str(tmp_path / "i" / "events.parquet"))
    row2 = REGISTRY["cramers_v"].fn(spark, str(tmp_path / "i")).collect()[0]
    assert row2.cramers_v == pytest.approx(0.0, abs=1e-6)


def test_nelson_aalen_dominates_km(spark):
    """Breslow survival exp(−H) ≥ Kaplan-Meier S(t) at every event time
    (1 − x ≤ e^(−x)) — the textbook relation between the two estimators,
    checked on the shared censored construction."""
    na = {r.day: r for r in REGISTRY["nelson_aalen"].fn(spark, SF1).collect()}
    km = {r.day: r for r in REGISTRY["kaplan_meier"].fn(spark, SF1).collect()}
    assert set(na) == set(km) and len(na) > 0
    for day, r in na.items():
        assert r.breslow_survival >= km[day].survival - 1e-9
        assert r.n_risk == km[day].n_risk


def test_mcc_langid_planted_perfect_guesser(spark, tmp_path):
    """Docs written in pure stopword runs of their labeled language are
    guessed correctly by construction → every per-class MCC = 1."""
    from candyspark.operators.text import STOPWORDS

    rows = []
    for lang in ("en", "de", "fr"):
        text = " ".join(STOPWORDS[lang] * 3)
        for _ in range(20):
            rows.append((text, lang, "s"))
    sf = _src_docs(spark, tmp_path, rows)
    out = REGISTRY["mcc_langid"].fn(spark, sf).collect()
    assert len(out) == 3
    for r in out:
        assert r.mcc == pytest.approx(1.0, abs=1e-9), r
        assert r.fp == 0 and r.fn == 0


def test_good_turing_hand_spectrum(spark, tmp_path):
    """'a a b c' per doc → N=4, N1=2, N2=1: p_unseen = 0.5, r1* = 2·N2/N1
    = 1.0 — the Good-Turing numbers computed by hand."""
    sf = _src_docs(spark, tmp_path, [("a a b c", "en", "s1")])
    r = REGISTRY["good_turing_mass"].fn(spark, sf).collect()[0]
    assert (r.n_tokens, r.n_types, r.n1, r.n2) == (4, 3, 2, 1)
    assert r.p_unseen == pytest.approx(0.5)
    assert r.r1_star == pytest.approx(1.0)


def test_tokenizer_fertility_hand_counts(spark, tmp_path):
    """'hello, world!' → 4 BPE-ish tokens over 2 whitespace words:
    fertility exactly 2.0."""
    sf = _src_docs(spark, tmp_path, [("hello, world!", "en", "s1")])
    r = REGISTRY["tokenizer_fertility"].fn(spark, sf).collect()[0]
    assert r.n_bpe_tokens == 4 and r.n_words == 2
    assert r.fertility == pytest.approx(2.0)


def test_textrank_planted_hub_wins(spark, tmp_path):
    """A word adjacent to MANY distinct partners (the hub) must out-rank
    words that only ever repeat one partner — centrality, not frequency:
    every 'filler' token occurs more often than 'pivot' yet ranks below."""
    partners = [f"w{i}" for i in range(12)]
    docs = []
    for p in partners:
        docs.extend([(f"pivot {p}", "en", "s")] * 2)  # ≥2 co-occurrence gate
    docs.extend([("filler junk filler junk filler junk", "en", "s")] * 6)
    sf = _src_docs(spark, tmp_path, docs)
    rows = REGISTRY["textrank_keywords"].fn(spark, sf).collect()
    assert rows[0].term == "pivot"
    ranks = {r.term: r.rank for r in rows}
    assert ranks["pivot"] > ranks["filler"]


def test_bfs_planted_star_chain(spark, tmp_path):
    """Star (seed) + pendant chain: hop counts must be exactly the graph
    distances, and the node beyond 4 hops lands in the −1 bucket."""
    # co-purchase edge needs >= 2 shared orders -> duplicate each pair
    pairs = [(100, i) for i in range(1, 6)]          # star: hub 100, hop-1 leaves
    pairs += [(1, 11), (11, 21), (21, 31), (31, 41)]  # chain off leaf 1
    rows = []
    ok = 0
    for a, b in pairs:
        for _ in range(2):  # two orders per pair
            rows.append((ok, 1, "N", "F", 1.0, 10.0, 0.0, 0.0, a, 1))
            rows.append((ok, 2, "N", "F", 1.0, 10.0, 0.0, 0.0, b, 1))
            ok += 1
    sf = _lineitem(spark, tmp_path, rows)
    got = {r.hop: r.n_parts for r in REGISTRY["bfs_hop_histogram"].fn(spark, sf).collect()}
    # hub 100 has degree 5 (max) -> seed; distances: 1..5 at hop 1 (5 nodes),
    # 11 at hop 2, 21 at hop 3, 31 at hop 4, 41 unreached within 4 rounds
    assert got == {0: 1, 1: 5, 2: 1, 3: 1, 4: 1, -1: 1}


def test_partial_correlation_planted_confound(spark, tmp_path):
    """x and y both driven by the line count z with independent residual
    patterns: raw corr(x, y) is strong but the partial correlation given z
    must collapse toward 0. And when y ≡ x, partial_r = 1 exactly."""
    rows = []
    ok = 0
    for i in range(300):
        z = 1 + (i % 5)  # lines per order
        for j in range(z):
            q = 10.0 + ((i * 7 + j) % 3)      # residual pattern A
            p = 100.0 + ((i * 11 + j) % 4)    # residual pattern B (independent)
            rows.append((ok, j + 1, "N", "F", q, p, 0.0, 0.0, 1, 1))
        ok += 1
    sf = _lineitem(spark, tmp_path, rows)
    r = REGISTRY["partial_correlation"].fn(spark, sf).collect()[0]
    assert r.r_qty_value > 0.6          # confounded raw correlation
    assert abs(r.partial_r) < 0.25      # collapses once z is controlled

    dup = []
    ok = 0
    for i in range(100):
        for j in range(1 + i % 3):  # z varies so r_xz is defined
            v = float(10 + (i * 3 + j) % 7)
            dup.append((ok, j + 1, "N", "F", v, v, 0.0, 0.0, 1, 1))
        ok += 1
    r2 = REGISTRY["partial_correlation"].fn(
        spark, _lineitem(spark, tmp_path / "dup", dup)
    ).collect()[0]
    assert r2.r_qty_value == pytest.approx(1.0, abs=1e-6)  # y ≡ x
    assert r2.partial_r == pytest.approx(1.0, abs=1e-4)


def test_rr_estimator_identity_and_accuracy(spark):
    """The debias identity π̂ = (λ̂ − 0.125)/0.75 must hold on the reported
    numbers, and at 150 users the estimate must land within 10pp of the
    true rate (the 1/√n regime)."""
    sf001 = "/root/testdata/sf0.01"
    r = REGISTRY["rr_frequency_estimate"].fn(spark, sf001).collect()[0]
    assert r.estimated_rate == pytest.approx((r.observed_rate - 0.125) / 0.75, abs=2e-6)
    assert 0.0 < r.true_rate < 1.0  # the planted bit actually varies
    assert r.abs_error < 0.10


def test_distinct_ngram_diversity_separates_template(spark, tmp_path):
    """A source that recycles one bigram forever must score far lower
    distinct-2 than a source of all-fresh bigrams at equal distinct-1."""
    fresh = " ".join(f"t{i}" for i in range(40))
    loop = "a b " * 20
    sf = _src_docs(
        spark, tmp_path, [(fresh, "en", "fresh"), (loop.strip(), "en", "loop")]
    )
    got = {r.source: r for r in REGISTRY["distinct_ngram_diversity"].fn(spark, sf).collect()}
    assert got["fresh"].distinct2 == pytest.approx(1.0)
    assert got["loop"].distinct2 < 0.1
    assert got["loop"].v_bigrams == 2  # 'a b' and 'b a'


def test_matryoshka_prefix_determined_space(spark, tmp_path):
    """Embeddings whose mass lives entirely in the first 8 dims: every
    truncation ranks identically to the full vector → recall@10 = 1.0 at
    all dims (the planted matryoshka-friendly space)."""
    import math as m

    rows = []
    for i in range(80):
        # i+1 keeps every vector nonzero (the engine's embedding contract)
        head = [m.sin(0.1 * (i + 1) * (j + 1)) + 1.5 for j in range(8)]
        rows.append((i, [float(x) for x in head] + [0.0] * 56, i % 4))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = REGISTRY["matryoshka_recall"].fn(spark, str(tmp_path)).collect()
    assert [r.dim for r in out] == [8, 16, 32]
    for r in out:
        assert r.recall_at_10 == pytest.approx(1.0), r


def _events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_g_test_planted_association(spark, tmp_path):
    """Perfect 3×3 diagonal → G = 2n·H(type) = 600·ln 3 exactly (to the
    snap); uniform grid → G = 0. Zero cells need no special handling
    here — they contribute 0 to Σ O·ln(O/E) by construction."""
    import math as m

    types = ["click", "view", "purchase"]
    perfect = [
        (i, f"2024-01-{1 + (i % 3) + 7 * (i % 5):02d} 12:00:00", i, types[i % 3], 1.0, "{}")
        for i in range(300)
    ]
    sf = _events(spark, tmp_path, perfect)
    row = REGISTRY["g_test"].fn(spark, sf).collect()[0]
    assert row.g_stat == pytest.approx(600.0 * m.log(3.0), abs=1e-2)

    indep = []
    eid = 0
    for d in range(7):
        for t in types:
            for _ in range(10):
                indep.append((eid, f"2024-01-{1 + d:02d} 12:00:00", eid, t, 1.0, "{}"))
                eid += 1
    sf2 = _events(spark, tmp_path / "i", indep)
    assert REGISTRY["g_test"].fn(spark, sf2).collect()[0].g_stat == pytest.approx(0.0, abs=1e-6)


def test_theil_u_directions(spark, tmp_path):
    """Perfect type↔weekday mapping → both uncertainty coefficients = 1;
    independence → both ≈ 0; and on a many-to-one mapping (two types per
    weekday) the coefficients must be ASYMMETRIC: dow fully determines
    nothing about type beyond the pair, while type determines dow
    exactly → U(dow|type) = 1 > U(type|dow)."""
    types = ["click", "view", "purchase", "error"]
    # many-to-one: types 0,1 -> Mon, types 2,3 -> Tue
    m2o = [
        (i, f"2024-01-{1 + (i % 4) // 2:02d} 12:00:00", i, types[i % 4], 1.0, "{}")
        for i in range(400)
    ]
    sf = _events(spark, tmp_path, m2o)
    r = REGISTRY["theil_u"].fn(spark, sf).collect()[0]
    assert r.u_dow_given_type == pytest.approx(1.0, abs=1e-6)
    assert r.u_type_given_dow == pytest.approx(0.5, abs=1e-6)  # ln2/ln4


def test_embedding_anisotropy_planted_cone(spark, tmp_path):
    """All vectors along ONE direction → every deterministic pair cosine
    is exactly 1 and std is 0 (the degenerate cone); mean_norm must be
    the planted scale mean."""
    rows = []
    for i in range(256):  # 4 vectors per vec_id%64 bucket → 3 pairs each
        scale = float(1 + (i % 4))
        rows.append((i, [scale] + [0.0] * 63, 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    r = REGISTRY["embedding_anisotropy"].fn(spark, str(tmp_path)).collect()[0]
    assert r.mean_cos == pytest.approx(1.0, abs=1e-9)
    assert r.std_cos == pytest.approx(0.0, abs=1e-6)
    assert r.n_pairs > 0


def test_length_quality_profile_monotone(spark, tmp_path):
    """Planted: lengths strictly increase with doc id, long docs are
    English → mean_chars monotone across deciles, en_share 0 in the
    short half and 1 in the long half."""
    rows = []
    for i in range(100):
        text = "word " * (5 + i)
        rows.append((text.strip(), "en" if i >= 50 else "de", "s"))
    sf = _src_docs(spark, tmp_path, rows)
    out = REGISTRY["length_quality_profile"].fn(spark, sf).collect()
    assert [r.decile for r in out] == list(range(1, 11))
    chars = [r.mean_chars for r in out]
    assert chars == sorted(chars)
    assert all(r.en_share == 0.0 for r in out[:5])
    assert all(r.en_share == 1.0 for r in out[5:])


def test_markov2_detects_second_order_memory(spark, tmp_path):
    """Planted memory: (A,B)→X and (C,B)→Y deterministically while B alone
    is 50/50 → both contexts must surface with lift ≈ 2."""
    rows = []
    eid = 0
    for u in range(40):
        pat = ["click", "view", "purchase"] if u % 2 == 0 else ["error", "view", "signup"]
        for rep in range(12):
            for k, t in enumerate(pat):
                rows.append(
                    (eid, f"2024-01-01 {rep:02d}:{k:02d}:00", u, t, 1.0, "{}")
                )
                eid += 1
    sf = _events(spark, tmp_path, rows)
    out = REGISTRY["markov2_transitions"].fn(spark, sf).collect()
    lifts = {(r.prev2, r.prev1, r.next_type): r.lift for r in out}
    assert lifts[("click", "view", "purchase")] == pytest.approx(2.0, rel=0.1)
    assert lifts[("error", "view", "signup")] == pytest.approx(2.0, rel=0.1)


def test_jarque_bera_two_point_distribution(spark, tmp_path):
    """A symmetric two-point distribution has skew 0 and kurtosis excess
    exactly −2 → JB = n/6·(K²/4) = n/6 — hand math, no RNG."""
    rows = [
        (i, 1, "N", "F", 1.0, 10.0 if i % 2 == 0 else 20.0, 0.0, 0.0, 1, 1)
        for i in range(120)
    ]
    sf = _lineitem(spark, tmp_path, rows)
    r = REGISTRY["jarque_bera"].fn(spark, sf).collect()[0]
    assert r.skewness == pytest.approx(0.0, abs=1e-9)
    assert r.kurtosis_excess == pytest.approx(-2.0, abs=1e-9)
    assert r.jb_stat == pytest.approx(120 / 6.0, abs=1e-3)
    assert not r.looks_normal


def test_evalue_planted_rr2(spark, tmp_path):
    """RR = 2 exactly → E-value = 2 + √2 (VanderWeele-Ding closed form)."""
    import math as m

    rows = []
    for i in range(100):  # exposed: discount 0.10, 50% returns
        rows.append((i, 1, "R" if i < 50 else "N", "F", 1.0, 10.0, 0.10, 0.0, 1, 1))
    for i in range(100):  # unexposed: discount 0, 25% returns
        rows.append((200 + i, 1, "R" if i < 25 else "N", "F", 1.0, 10.0, 0.0, 0.0, 1, 1))
    sf = _lineitem(spark, tmp_path, rows)
    r = REGISTRY["evalue_sensitivity"].fn(spark, sf).collect()[0]
    assert r.risk_ratio == pytest.approx(2.0, abs=1e-9)
    assert r.e_value == pytest.approx(2.0 + m.sqrt(2.0), abs=1e-6)


def test_rmst_hand_curve(spark, tmp_path):
    """Two users: one converts at day 0 (S drops to 0.5), one censored at
    day 2 → RMST(14) = 0.5·2 + 0.5·12 = 7 exactly."""
    rows = [
        (0, "2024-01-01 00:00:00", 1, "signup", 0.0, "{}"),
        (1, "2024-01-01 01:00:00", 1, "purchase", 1.0, "{}"),
        (2, "2024-01-01 00:00:00", 2, "signup", 0.0, "{}"),
        (3, "2024-01-03 00:00:00", 2, "click", 0.0, "{}"),
    ]
    sf = _events(spark, tmp_path, rows)
    r = REGISTRY["rmst"].fn(spark, sf).collect()[0]
    assert r.first_event_day == 0
    assert r.rmst_days == pytest.approx(7.0, abs=1e-6)


def test_chow_detects_planted_break(spark, tmp_path):
    """Flat first half + steep second half → F must blow past the 3.0
    bound; one unbroken line → F ≈ 0."""
    broken = []
    for i in range(120):
        y = 100.0 if i < 60 else 100.0 + 50.0 * (i - 59)
        y += float(i % 3)  # wiggle so the per-half SSRs are nonzero
        broken.append((i, 1, y, f"2024-{1 + i // 28:02d}-{1 + i % 28:02d}"))
    r = REGISTRY["chow_break_test"].fn(
        spark, _orders(spark, tmp_path, broken)
    ).collect()[0]
    assert r.structural_break and r.f_stat > 100

    line = [(i, 1, 100.0 + 3.0 * i, f"2024-{1 + i // 28:02d}-{1 + i % 28:02d}")
            for i in range(120)]
    r2 = REGISTRY["chow_break_test"].fn(
        spark, _orders(spark, tmp_path / "line", line)
    ).collect()[0]
    # a perfect line fits both halves exactly: F is undefined (NULL) and
    # the restricted-vs-unrestricted gap decides — no break
    assert not r2.structural_break
    assert r2.f_stat is None


def test_raking_balanced_table_is_identity(spark, tmp_path):
    """A table already AT the uniform margins must rake to weight 1.0
    everywhere (IPF fixed point)."""
    rows = []
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    bals = [-100.0, 1000.0, 9000.0]
    ck = 0
    for s in segs:
        for b in bals:
            for _ in range(10):
                rows.append((ck, f"c{ck}", "addr", 1, "p", b, s, "c"))
                ck += 1
    df = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_address string, c_nationkey int, "
        "c_phone string, c_acctbal double, c_mktsegment string, c_comment string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    out = REGISTRY["raking_weights"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 15
    for r in out:
        assert r.weight == pytest.approx(1.0, abs=1e-6)
        assert r.seg_share_after == pytest.approx(0.2, abs=1e-6)


def test_qld_ranking_semantics(spark, tmp_path):
    """More query-term mass ranks higher; at equal term counts the
    SHORTER document wins (Dirichlet length normalization)."""
    docs = [
        ("hash join stream spark " * 3 + "alpha beta", "en", "s"),   # heavy hits
        ("hash join " + "filler " * 30, "en", "s"),                  # few hits, long
        ("hash join alpha", "en", "s"),                              # few hits, short
        ("nothing relevant here at all " * 5, "en", "s"),            # no hits
    ]
    sf = _src_docs(spark, tmp_path, docs)
    rows = REGISTRY["qld_retrieval"].fn(spark, sf).collect()
    order = [r.doc_id for r in rows]
    assert order[0] == 0                       # heaviest query mass first
    assert order.index(2) < order.index(1)     # same hits, shorter wins
    assert order.index(1) < order.index(3)     # any hits beat none here


def test_negative_binomial_branches(spark, tmp_path):
    """Constant daily counts (var 0) must take the honest Poisson-like
    branch (NULL r/p); an alternating 1/99 series is massively
    overdispersed and must fit r = 2500/2351 by hand."""
    rows = []
    eid = 0
    for d in range(10):
        for _ in range(5):  # 'view': exactly 5/day -> var 0
            rows.append((eid, f"2024-01-{d + 1:02d} 12:00:00", eid, "view", 1.0, "{}"))
            eid += 1
        burst = 1 if d % 2 == 0 else 99  # 'click': wild overdispersion
        for _ in range(burst):
            rows.append((eid, f"2024-01-{d + 1:02d} 13:00:00", eid, "click", 1.0, "{}"))
            eid += 1
    sf = _events(spark, tmp_path, rows)
    got = {r.event_type: r for r in
           REGISTRY["negative_binomial_fit"].fn(spark, sf).collect()}
    assert got["view"].poisson_like and got["view"].nb_r is None
    c = got["click"]
    assert not c.poisson_like
    assert c.mean_daily == pytest.approx(50.0)
    assert c.var_daily == pytest.approx(2401.0)
    assert c.nb_r == pytest.approx(2500.0 / 2351.0, abs=1e-4)


def test_hurst_recovers_regimes(spark, tmp_path):
    """A strong linear trend must read persistent (H near 1); a strict
    ±1 alternation must read mean-reverting (H near 0)."""
    trend = [(i, 1, 1000.0 + 10.0 * i, f"2024-{1 + i // 28:02d}-{1 + i % 28:02d}")
             for i in range(128)]
    r = REGISTRY["hurst_exponent"].fn(
        spark, _orders(spark, tmp_path, trend)
    ).collect()[0]
    assert r.regime == "persistent" and r.hurst > 0.9

    alt = [(i, 1, 100.0 + (1.0 if i % 2 == 0 else -1.0),
            f"2024-{1 + i // 28:02d}-{1 + i % 28:02d}") for i in range(128)]
    r2 = REGISTRY["hurst_exponent"].fn(
        spark, _orders(spark, tmp_path / "alt", alt)
    ).collect()[0]
    assert r2.regime == "mean_reverting" and r2.hurst < 0.2


def test_mv_join_delta_merge_equals_recompute(spark):
    """The four-quadrant bilinear merge must equal the direct join
    recompute bit-for-bit (the IVM identity it implements)."""
    from candyspark.functions.numeric import money
    from candyspark.sources.readers import load_table

    got = {r.o_orderpriority: (r.n_lines, r.revenue)
           for r in REGISTRY["mv_join_delta_refresh"].fn(spark, SF1).collect()}
    o = load_table(spark, SF1, "orders")
    li = load_table(spark, SF1, "lineitem")
    direct = {
        r.o_orderpriority: (r.n_lines, r.revenue)
        for r in (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_lines"),
                F.sum(money("l_extendedprice")).cast("double").alias("revenue"),
            )
            .collect()
        )
    }
    assert got == direct


def test_mcnemar_hand_counts(spark, tmp_path):
    """Hand-checkable 2×2: 3 click-only days, 9 purchase-only days,
    1 both, 1 neither → chi2_cc = (|3−9|−1)²/12 = 25/12."""
    rows = []
    eid = 0
    # user u, day d encoded as 2024-01-(d+1)
    def ev(u, d, t):
        nonlocal eid
        eid += 1
        return (eid, f"2024-01-{d + 1:02d} 10:00:00", u, t, 1.0, "{}")

    for d in range(3):  # click-only
        rows.append(ev(1, d, "click"))
    for d in range(3, 12):  # purchase-only
        rows.append(ev(2, d, "purchase"))
    rows.append(ev(3, 12, "click"))
    rows.append(ev(3, 12, "purchase"))  # both on one day
    rows.append(ev(4, 13, "view"))  # neither
    out = REGISTRY["mcnemar_test"].fn(spark, _events(spark, tmp_path, rows)).collect()[0]
    assert (out.both_yes, out.click_only, out.buy_only, out.both_no) == (1, 3, 9, 1)
    assert out.chi2_cc == pytest.approx(25.0 / 12.0, abs=1e-6)
    assert out.significant is False


def test_mcnemar_no_discordance_is_null(spark, tmp_path):
    """b + c = 0 → the statistic is undefined: honest NULL, not 0."""
    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
        (2, "2024-01-01 11:00:00", 1, "purchase", 1.0, "{}"),
    ]
    out = REGISTRY["mcnemar_test"].fn(spark, _events(spark, tmp_path, rows)).collect()[0]
    assert out.chi2_cc is None and out.significant is None


def test_wilcoxon_recovers_planted_shift(spark, tmp_path):
    """Every customer's H2 average is lifted by a customer-specific
    positive amount → all signs positive, W⁺ = n(n+1)/2, z > 1.96; a
    symmetric half-up/half-down plant with equal |d| ranks must sit at
    exactly z = 0 (ties in |d| take midranks)."""
    up = []
    for c in range(1, 31):
        up.append((c * 2, c, 1000.0, "1997-06-01"))
        up.append((c * 2 + 1, c, 1000.0 + 7.0 * c, "1999-06-01"))
    r = REGISTRY["wilcoxon_signed_rank"].fn(
        spark, _orders(spark, tmp_path, up)
    ).collect()[0]
    assert r.n_pairs == 30
    assert r.w_plus == 30 * 31 / 2.0
    assert r.significant is True and r.z > 1.96

    sym = []
    for c in range(1, 21):
        delta = 5.0 if c % 2 == 0 else -5.0  # same |d| for every pair
        sym.append((c * 2, c, 1000.0, "1997-06-01"))
        sym.append((c * 2 + 1, c, 1000.0 + delta, "1999-06-01"))
    r2 = REGISTRY["wilcoxon_signed_rank"].fn(
        spark, _orders(spark, tmp_path / "sym", sym)
    ).collect()[0]
    assert r2.z == pytest.approx(0.0, abs=1e-9)


def test_cronbach_alpha_extremes(spark, tmp_path):
    """Perfectly parallel items (every user's five type-counts are equal)
    → α = 1 exactly: Σ item var = 5v, total var = 25v, so
    (5/4)(1 − 5v/25v) = 1. That pins the formula's moving parts."""
    types = ["click", "error", "purchase", "signup", "view"]
    rows = []
    eid = 0
    for u in range(1, 7):
        for t in types:
            for _ in range(u):  # user u does u of EACH type
                eid += 1
                rows.append((eid, "2024-01-05 10:00:00", u, t, 1.0, "{}"))
    out = REGISTRY["cronbach_alpha"].fn(
        spark, _events(spark, tmp_path, rows)
    ).collect()[0]
    assert out.n_users == 6 and out.k_items == 5
    assert out.cronbach_alpha == pytest.approx(1.0, abs=1e-6)


def _orders_pri(spark, tmp_path, rows):
    """orders fixture with priority:
    (o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderpriority)."""
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
    df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_matching_att_hand_pairs(spark, tmp_path):
    """Hand-checkable matches: nation 1's two treated pick the nearer
    control (|100−105| < |100−90|; |200−105| for the far one); nation 2
    plants an exact distance tie, which must break toward the EARLIER
    neighbor (the prev-on-tie rule). ATT = mean of the three hand diffs."""
    cust = spark.createDataFrame(
        [
            (1, 1, 100.0),  # treated
            (2, 1, 90.0),   # control, spend 200
            (3, 1, 105.0),  # control, spend 300
            (4, 1, 200.0),  # treated
            (5, 2, 100.0),  # treated, tie case
            (6, 2, 95.0),   # control, spend 50  (prev)
            (7, 2, 105.0),  # control, spend 950 (next, same distance)
        ],
        "c_custkey long, c_nationkey long, c_acctbal double",
    )
    cust.write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    orders = [
        (10, 1, 500.0, "1997-01-01", "1-URGENT"),
        (11, 2, 200.0, "1997-01-02", "3-MEDIUM"),
        (12, 3, 300.0, "1997-01-03", "3-MEDIUM"),
        (13, 4, 1000.0, "1997-01-04", "1-URGENT"),
        (14, 5, 400.0, "1997-01-05", "1-URGENT"),
        (15, 6, 50.0, "1997-01-06", "3-MEDIUM"),
        (16, 7, 950.0, "1997-01-07", "3-MEDIUM"),
    ]
    _orders_pri(spark, tmp_path, orders)
    out = REGISTRY["matching_att"].fn(spark, str(tmp_path)).collect()[0]
    # diffs: T1: 500-300=200 (C3 nearer), T4: 1000-300=700 (C3 nearer),
    # T5: 400-50=350 (tie -> prev C6)
    assert out.n_matched == 3
    assert out.att == pytest.approx((200.0 + 700.0 + 350.0) / 3.0, abs=1e-4)
    assert out.mean_covariate_gap == pytest.approx((5.0 + 95.0 + 5.0) / 3.0, abs=1e-4)


def test_granger_recovers_planted_lead(spark, tmp_path):
    """Purchases are yesterday's clicks plus a ±1 wiggle → the click→
    purchase direction must clear the F gate and dominate the reverse."""
    digits = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9, 3, 2, 3, 8, 4,
              6, 2, 6, 4, 3, 3, 8, 3, 2, 7, 9, 5, 2, 8, 8, 4, 1, 9, 7, 1]
    rows, eid = [], 0
    for t, x in enumerate(digits):
        day = f"2024-{1 + t // 28:02d}-{1 + t % 28:02d}"
        for _ in range(x):  # x_t clicks
            eid += 1
            rows.append((eid, f"{day} 10:00:00", 1, "click", 1.0, "{}"))
        y = (digits[t - 1] if t > 0 else 2) + (t % 2)  # y_t = x_{t-1} + wiggle
        for _ in range(y):
            eid += 1
            rows.append((eid, f"{day} 11:00:00", 1, "purchase", 1.0, "{}"))
    out = {
        r.direction: r
        for r in REGISTRY["granger_lead_lag"].fn(
            spark, _events(spark, tmp_path, rows)
        ).collect()
    }
    fwd = out["clicks_lead_purchases"]
    rev = out["purchases_lead_clicks"]
    assert fwd.leads is True and fwd.f_stat > 4.35
    assert fwd.f_stat > rev.f_stat
    assert fwd.rss_unrestricted < fwd.rss_restricted


def test_hill_recovers_planted_pareto(spark, tmp_path):
    """An exact Pareto(α=1.5) order-statistic plant: p_i = C·(N/i)^(1/1.5)
    → α̂ = 1.5·k / Σ_{i≤k} ln((k+1)/i), computable by hand."""
    import math as m

    n = 200
    rows = [
        (i, 1, 1000.0 * (n / i) ** (1.0 / 1.5),
         f"1997-{1 + i % 12:02d}-{1 + i % 28:02d}")
        for i in range(1, n + 1)
    ]
    out = REGISTRY["hill_tail_index"].fn(
        spark, _orders(spark, tmp_path, rows)
    ).collect()[0]
    expected_h = sum(m.log(101.0 / i) for i in range(1, 101)) / 100.0 / 1.5
    assert out.k == 100
    assert out.hill_h == pytest.approx(expected_h, abs=1e-3)
    assert out.hill_alpha == pytest.approx(1.0 / expected_h, rel=1e-3)


def test_binary_quantization_perfect_when_signs_rank(spark, tmp_path):
    """Plant where sign bits carry the full ranking: query = all-ones,
    candidate k flips its first k coords to −1 → cosine = (64−2k)/64
    strictly decreasing while Hamming = k strictly increasing — the two
    orders coincide, so BOTH stages must hit recall 1.0 exactly."""
    rows = [(0, [1.0] * 64, 0)]
    for k in range(15):
        rows.append((50 + k, [-1.0] * k + [1.0] * (64 - k), 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = REGISTRY["binary_quantization_recall"].fn(spark, str(tmp_path)).collect()[0]
    assert out.n_queries == 1
    assert out.recall_hamming_at_10 == 1.0
    assert out.recall_reranked_at_10 == 1.0


def test_binary_quantization_rerank_never_hurts(spark):
    """Structural guarantee: the exact-cosine rerank of the Hamming-50
    shortlist contains every truth item the Hamming-10 head contains, so
    reranked recall ≥ raw Hamming recall — assert it on the real corpus."""
    out = REGISTRY["binary_quantization_recall"].fn(
        spark, SF1
    ).collect()[0]
    assert out.recall_reranked_at_10 >= out.recall_hamming_at_10
    assert 0.0 < out.recall_reranked_at_10 <= 1.0


def _lineitem_pairs(spark, tmp_path, order_parts):
    """lineitem fixture holding only the co-purchase columns:
    order_parts = list of (orderkey, [partkeys])."""
    rows = []
    ln = 0
    for ok, parts in order_parts:
        for p in parts:
            ln += 1
            rows.append((ok, p))
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    df.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def test_personalized_pagerank_mass_stays_near_seeds(spark, tmp_path):
    """Two components; the 10 seeds (lowest ids) all sit in component A
    (parts 1..12) → component B (101, 102) gets NO teleport and NO inflow,
    so its integer rank is exactly 0; component A's ranks are positive and
    (by symmetry of the chain ends) the seed region dominates."""
    orders = []
    ok = 0
    for rep in range(2):  # every edge needs >= 2 shared orders
        for i in range(1, 12):  # chain 1-2-...-12
            ok += 1
            orders.append((ok + rep * 1000, [i, i + 1]))
        ok += 1
        orders.append((ok + rep * 1000, [101, 102]))
    out = REGISTRY["personalized_pagerank"].fn(
        spark, _lineitem_pairs(spark, tmp_path, orders)
    ).collect()
    ranks = {r.part: r.rank for r in out}
    assert ranks[101] == 0.0 and ranks[102] == 0.0
    in_a = [ranks[p] for p in range(1, 13)]
    assert all(r > 0.0 for r in in_a)
    # total mass conserved up to integer rounding (dangling-free graph)
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-6)


def test_streaming_chained_windows_hand_counts(spark, tmp_path):
    """Two days, hand-placed 6-hour buckets: day 1 has clicks in two
    buckets (3 then 5) → (n_buckets=2, max=5); day 2 has one bucket of 7.
    The far-future flush sentinel must never surface in the output."""
    rows, eid = [], 0
    for _ in range(3):
        eid += 1
        rows.append((eid, "2024-01-01 01:00:00", 1, "click", 1.0, "{}"))
    for _ in range(5):
        eid += 1
        rows.append((eid, "2024-01-01 13:00:00", 1, "click", 1.0, "{}"))
    for _ in range(7):
        eid += 1
        rows.append((eid, "2024-01-02 05:00:00", 1, "click", 1.0, "{}"))
    out = REGISTRY["streaming_chained_windows"].fn(
        spark, _events(spark, tmp_path, rows)
    ).collect()
    got = {(str(r.day), r.event_type): (r.n_buckets, r.max_bucket_events) for r in out}
    assert got == {
        ("2024-01-01", "click"): (2, 5),
        ("2024-01-02", "click"): (1, 7),
    }


def test_fisher_exact_matches_comb_math(spark, tmp_path):
    """Hand 2×2 (a=8, b=2, c=1, d=9): the engine's ladder-based two-sided
    p must match the exact math.comb hypergeometric computation — the
    from-first-principles pin on the whole log-factorial machinery."""
    from fractions import Fraction
    from math import comb

    rows = []
    ok = 0
    def add(k, urgent, high):
        nonlocal ok
        for _ in range(k):
            ok += 1
            rows.append(
                (ok, ok, 400000.0 if high else 100000.0,
                 "1997-01-01", "1-URGENT" if urgent else "3-MEDIUM")
            )
    add(8, True, True)    # a
    add(2, True, False)   # b
    add(1, False, True)   # c
    add(9, False, False)  # d
    out = REGISTRY["fisher_exact_test"].fn(
        spark, _orders_pri(spark, tmp_path, rows)
    ).collect()[0]
    assert (out.n, out.n_urgent, out.n_highvalue, out.a_obs) == (20, 10, 9, 8)
    n, r1, c1 = 20, 10, 9
    denom = comb(n, c1)
    p = [Fraction(comb(r1, k) * comb(n - r1, c1 - k), denom) for k in range(0, 10)]
    p_two = float(sum(pk for pk in p if pk <= p[8]))
    assert out.p_value == pytest.approx(p_two, rel=1e-4)
    assert out.significant == (p_two < 0.05)


def test_brier_murphy_identity_and_perfect_model(spark):
    """On the real corpus the Murphy identity REL − RES + UNC must equal
    the directly-computed Brier score (both to the snap) — the
    decomposition's own checksum."""
    out = REGISTRY["brier_decomposition"].fn(spark, SF1).collect()[0]
    assert out.check == pytest.approx(out.brier, abs=2e-6)
    assert out.reliability >= 0.0 and out.resolution >= 0.0
    assert 0.0 <= out.uncertainty <= 0.25


def test_randomization_inference_detects_planted_effect(spark, tmp_path):
    """A huge planted treatment gap: urgent orders pay 10×; no label
    shuffle can reproduce that gap, so p must bottom out at 1/(B+1); a
    no-effect plant (identical outcomes) must give p = 1."""
    strong = []
    for i in range(1, 41):
        urgent = i <= 20
        strong.append(
            (i, i, 10000.0 if urgent else 1000.0, "1997-01-01",
             "1-URGENT" if urgent else "3-MEDIUM")
        )
    r = REGISTRY["randomization_inference"].fn(
        spark, _orders_pri(spark, tmp_path, strong)
    ).collect()[0]
    assert r.p_value == pytest.approx(1.0 / 201.0, abs=1e-6)
    assert r.n_extreme == 0

    flat = [
        (i, i, 1000.0, "1997-01-01", "1-URGENT" if i <= 20 else "3-MEDIUM")
        for i in range(1, 41)
    ]
    r2 = REGISTRY["randomization_inference"].fn(
        spark, _orders_pri(spark, tmp_path / "flat", flat)
    ).collect()[0]
    assert r2.gap_obs == 0.0 and r2.p_value == 1.0


def test_randomization_inference_bernoulli_agrees(spark, tmp_path):
    """The Bernoulli-hash scale swap-in (round-5 verdict item 4): p-values
    from the exact-permutation and Bernoulli forms agree within Monte-Carlo
    tolerance on the real fixture (3σ at B=200, p≈0.1 ⇒ |Δp| ≤ 0.065 —
    deterministic here: md5 draws, fixed data), and a huge planted effect
    bottoms both out at 1/(B+1)."""
    exact = REGISTRY["randomization_inference"].fn(spark, SF1).collect()[0]
    bern = REGISTRY["randomization_inference_bernoulli"].fn(spark, SF1).collect()[0]
    assert bern.gap_obs == exact.gap_obs
    assert abs(bern.p_value - exact.p_value) <= 0.065, (exact.p_value, bern.p_value)

    strong = []
    for i in range(1, 41):
        urgent = i <= 20
        strong.append(
            (i, i, 10000.0 if urgent else 1000.0, "1997-01-01",
             "1-URGENT" if urgent else "3-MEDIUM")
        )
    r = REGISTRY["randomization_inference_bernoulli"].fn(
        spark, _orders_pri(spark, tmp_path, strong)
    ).collect()[0]
    assert r.p_value == pytest.approx(1.0 / 201.0, abs=1e-6)
    assert r.n_extreme == 0


def test_round6_curation_ops_properties(spark):
    """Round-6 curation additions: policy semantics beyond hash parity."""

    # dedup_keep_best: kept doc is its cluster's longest (tie: lowest id),
    # and chars_dropped + kept_chars accounts for the whole cluster's mass
    kb = REGISTRY["dedup_keep_best"].fn(spark, SF1).toPandas()
    cl = REGISTRY["dedup_clusters"].fn(spark, SF1).toPandas()
    docs = spark.read.parquet(f"{SF1}/documents.parquet").select("doc_id", "n_chars").toPandas()
    merged = cl.merge(docs, on="doc_id")
    for _, row in kb.iterrows():
        members = merged[merged.cluster_id == row.cluster_id]
        best = members.sort_values(["n_chars", "doc_id"], ascending=[False, True]).iloc[0]
        assert row.kept_doc == best.doc_id
        assert row.kept_chars == best.n_chars
        assert row.kept_chars + row.chars_dropped == members.n_chars.sum()
        assert row.docs_dropped == len(members) - 1

    # shard_assignment: 64 shards (hash may leave a shard empty only if
    # docs < shards), load factors average 1 over present shards' mass
    sa = REGISTRY["shard_assignment"].fn(spark, SF1).toPandas()
    assert sa.shard.between(0, 63).all()
    assert (sa.n_docs > 0).all()
    total = sa.total_chars.sum()
    assert abs((sa.total_chars * 64.0 / total - sa.load_factor).abs().max()) < 1e-5

    # curriculum_stages: 4 stages, difficulty bands non-overlapping and
    # increasing, doc counts near-equal (ntile property)
    cs = REGISTRY["curriculum_stages"].fn(spark, SF1).toPandas().sort_values("stage")
    assert list(cs.stage) == [1, 2, 3, 4]
    assert (cs.min_difficulty.values <= cs.max_difficulty.values).all()
    assert (cs.max_difficulty.values[:-1] <= cs.min_difficulty.values[1:] + 1e-12).all()
    assert cs.n_docs.max() - cs.n_docs.min() <= 1

    # split_leakage_embedding: rates in [0,1]; every leaked eval item has a
    # genuine >=tau train neighbour per the exact all-pairs verifier
    sl = REGISTRY["split_leakage_embedding"].fn(spark, SF1).toPandas()
    assert (sl.n_leaked <= sl.n_eval).all() and (sl.leak_rate <= 1.0).all()
    assert sl.n_eval.sum() > 0


def test_incremental_dedup_asymmetry(spark):
    """Incremental dedup only flags INCOMING docs, its dup set is a subset
    of the full self-join dedup's pair membership, and totals reconcile
    with the split."""
    from candyspark.operators.text import char_hash32
    import pyspark.sql.functions as SF

    out = REGISTRY["incremental_dedup"].fn(spark, SF1).toPandas()
    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    incoming = docs.filter(SF.pmod(char_hash32(SF.col("text")), SF.lit(10)) >= 8)
    per_lang = {r["lang"]: r["cnt"] for r in
                incoming.groupBy("lang").agg(SF.count(SF.lit(1)).alias("cnt")).collect()}
    assert {r for r in out.lang} <= set(per_lang)
    for _, row in out.iterrows():
        assert row.n_incoming == per_lang[row.lang]
        assert 0 <= row.n_dup <= row.n_incoming
    # every flagged incoming doc is a member of some full-corpus minhash
    # pair (the asymmetric join can't invent pairs the self-join lacks)
    pairs = REGISTRY["dedup_minhash"].fn(spark, SF1).toPandas()
    paired = set(pairs.doc_a) | set(pairs.doc_b)
    assert out.n_dup.sum() <= len(paired)


def test_lsh_tuning_curve_scurve_properties(spark):
    """S-curve identities on the planner: recall is monotone DECREASING in
    rows_per_band at fixed 32 hashes (wider bands are stricter), every
    expected recall ∈ (0, 1], and the (8 bands × 4 rows) row must sit near
    the operator's own measured recall regime (its pairs ARE the ones the
    8×4 banding found, so p(cand) at their similarities is high)."""

    out = REGISTRY["lsh_tuning_curve"].fn(spark, SF1).toPandas().sort_values("rows_per_band")
    assert list(out.rows_per_band) == [2, 4, 8, 16]
    assert (out.expected_recall > 0).all() and (out.expected_recall <= 1).all()
    assert out.expected_recall.is_monotonic_decreasing
    r4 = float(out[out.rows_per_band == 4].expected_recall.iloc[0])
    assert r4 >= 0.8, r4
