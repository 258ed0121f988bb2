"""Property-based fuzz of the sessionization core (plans/behavior.sessionize)
against a brute-force single-threaded oracle: random per-user event times
(including exact-gap boundary collisions and duplicate timestamps), the
session partition stated independently of the window implementation."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from candyspark.plans.behavior import sessionize

GAP_MS = 10_000  # 10 s gap so generated second-scale offsets straddle it

EVENT = st.tuples(
    st.integers(min_value=0, max_value=2),      # user
    st.integers(min_value=0, max_value=60),     # offset seconds (dups allowed)
    st.sampled_from(["view", "purchase"]),
)
EVENTS = st.lists(EVENT, min_size=1, max_size=14)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def brute_sessions(rows):
    """rows: (user, ms, event_id, type) → {user: [(n_events, dur, has_p)]}"""
    out = {}
    by_user = {}
    for u, ms, eid, t in rows:
        by_user.setdefault(u, []).append((ms, eid, t))
    for u, evs in by_user.items():
        evs.sort()
        sessions = []
        cur = []
        last = None
        for ms, eid, t in evs:
            if last is not None and ms - last > GAP_MS:
                sessions.append(cur)
                cur = []
            cur.append((ms, t))
            last = ms
        sessions.append(cur)
        out[u] = sorted(
            (
                len(s),
                s[-1][0] - s[0][0],
                int(any(t == "purchase" for _, t in s)),
            )
            for s in sessions
        )
    return out


@given(events=EVENTS)
@_SETTINGS
def test_sessionize_matches_brute_force(spark, events):
    rows = [
        (u, off * 1000, i, t)  # event_id = input index (unique)
        for i, (u, off, t) in enumerate(events)
    ]
    df = spark.createDataFrame(
        [
            (u, dt.datetime(2024, 1, 1) + dt.timedelta(milliseconds=ms), eid, t)
            for u, ms, eid, t in rows
        ],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    got = {}
    for r in sessionize(df, gap_ms=GAP_MS).collect():
        got.setdefault(r["user_id"], []).append(
            (r["n_events"], r["duration_ms"], r["has_purchase"])
        )
    got = {u: sorted(v) for u, v in got.items()}
    assert got == brute_sessions(rows)


# --- skyline fuzz ------------------------------------------------------------

SKY_POINT = st.tuples(
    st.integers(min_value=0, max_value=8),   # price unit (scaled to straddle buckets)
    st.integers(min_value=1, max_value=6),   # size
)
SKY_POINTS = st.lists(SKY_POINT, min_size=1, max_size=16)


def brute_skyline(points):
    """Strict 2-D dominance filter (minimize price, maximize size)."""
    keep = []
    for i, (p, s) in enumerate(points):
        dominated = any(
            (p2 <= p and s2 >= s and (p2 < p or s2 > s))
            for j, (p2, s2) in enumerate(points)
            if j != i
        )
        if not dominated:
            keep.append((p, s))
    return sorted(keep)


@given(points=SKY_POINTS)
@_SETTINGS
def test_skyline_matches_brute_force(spark, points):
    """The distributed bucketed skyline (plans/analytics.q_skyline_parts) must
    equal the O(n²) dominance definition on random point sets — duplicate
    points, same-price ties, and bucket-boundary prices included (prices
    scaled by 60 so points land in different floor(price/100) buckets)."""
    import candyspark.plans.analytics as A
    from unittest import mock

    rows = [
        (i, f"part{i}", "B", float(p * 60), s) for i, (p, s) in enumerate(points)
    ]
    df = spark.createDataFrame(
        rows, "p_partkey long, p_name string, p_brand string, p_retailprice double, p_size int"
    )
    with mock.patch.object(A, "load_table", lambda _s, _d, _t: df):
        got = sorted(
            (int(r["p_retailprice"]) // 60, r["p_size"])
            for r in A.q_skyline_parts(spark, "unused").collect()
        )
    assert got == brute_skyline(points)


def test_fifo_allocation_matches_brute_force(spark):
    """The cumulative-interval FIFO join vs an actual sequential FIFO
    walk over the same flows: matched/unmatched totals and allocation
    counts per part must be identical."""
    from candyspark.plans.candy import q_fifo_allocation
    from candyspark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["l_partkey"]: (r["n_allocations"], r["matched_qty"], r["unmatched_qty"])
        for r in q_fifo_allocation(spark, sf).collect()
    }
    rows = (
        load_table(spark, sf, "lineitem")
        .select(
            "l_partkey", "l_orderkey", "l_linenumber", "l_linestatus",
            "l_shipdate", "l_quantity",
        )
        .collect()
    )
    flows = {}
    for r in rows:
        if r["l_linestatus"] in ("F", "O"):
            flows.setdefault(r["l_partkey"], {"F": [], "O": []})[
                r["l_linestatus"]
            ].append((r["l_shipdate"], r["l_orderkey"], r["l_linenumber"],
                      int(r["l_quantity"])))
    for part, f in flows.items():
        if not f["O"]:
            assert part not in got  # demand-less parts don't report
            continue
        lots = [q for *_ , q in sorted(f["F"])]
        outs = [q for *_ , q in sorted(f["O"])]
        li, remaining = 0, lots[0] if lots else 0
        n_alloc = matched = 0
        for q in outs:
            need = q
            while need > 0 and li < len(lots):
                take = min(need, remaining)
                if take > 0:
                    n_alloc += 1
                    matched += take
                    need -= take
                    remaining -= take
                if remaining == 0:
                    li += 1
                    remaining = lots[li] if li < len(lots) else 0
        unmatched = sum(outs) - matched
        assert got[part] == (n_alloc, matched, unmatched), (
            part, got[part], (n_alloc, matched, unmatched))


# --- distributed quantile fuzz -------------------------------------------------

QVALS = st.lists(
    st.integers(min_value=-5, max_value=5),  # heavy duplicates on purpose
    min_size=1,
    max_size=12,
)


@given(vals=QVALS)
@_SETTINGS
def test_exact_quantiles_matches_numpy(spark, vals):
    """The distributed order-statistic extractor vs numpy's linear
    interpolation on adversarial inputs: heavy duplicates, all-equal
    values (zero bucket width), single elements, negative values."""
    import numpy as np

    from candyspark.operators.quantiles import exact_quantiles

    probs = [0.0, 0.1, 0.25, 0.5, 0.9, 1.0]
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    got = {
        r["p"]: r["value"]
        for r in exact_quantiles(spark, df, "x", probs, n_buckets=8).collect()
    }
    want = np.percentile(np.array(vals, dtype=float), [p * 100 for p in probs])
    assert len(got) == len(probs)
    for p, w in zip(probs, want):
        assert abs(got[p] - w) < 1e-9, (vals, p, got[p], w)


INTERVALS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),    # key
        st.integers(min_value=0, max_value=50),   # start (dups allowed)
        st.integers(min_value=0, max_value=20),   # length (0 = point)
    ),
    min_size=1,
    max_size=14,
)


def brute_merge(rows):
    """rows: (key, s, e) → {key: sorted [(ms, me)]} — textbook sweep."""
    out = {}
    by_key = {}
    for k, s, e in rows:
        by_key.setdefault(k, []).append((s, e))
    for k, ivs in by_key.items():
        ivs.sort()
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        out[k] = sorted(merged)
    return out


@given(intervals=INTERVALS)
@_SETTINGS
def test_merge_intervals_matches_brute_force(spark, intervals):
    from candyspark.operators.temporal import merge_intervals

    rows = [(k, s, s + ln, i) for i, (k, s, ln) in enumerate(intervals)]
    df = spark.createDataFrame(rows, "user_id long, s long, e long, event_id long")
    got = {}
    for r in merge_intervals(df).collect():
        got.setdefault(r["user_id"], []).append((r["ms"], r["me"]))
    got = {k: sorted(v) for k, v in got.items()}
    assert got == brute_merge([(k, s, e) for k, s, e, _ in rows])
