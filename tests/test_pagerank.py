"""PageRank operator tests: agreement with a dense numpy power iteration,
exact invariance under repartitioning (the decimal-snap discipline), and
mass conservation on symmetric graphs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from candyspark.operators.components import symmetrize
from candyspark.operators.pagerank import pagerank

EDGES = [  # two hubs (1, 5) bridged by 3; 6 is a spoke
    (1, 2),
    (1, 3),
    (2, 1),
    (3, 1),
    (3, 5),
    (4, 5),
    (5, 4),
    (5, 6),
    (6, 5),
]


def numpy_pagerank(edges, d=0.85, iters=8, weights=None):
    """Dense power iteration; ``weights`` (one per edge, default 1) makes
    the walk proportional to edge weight."""
    weights = [1.0] * len(edges) if weights is None else weights
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for (a, _), w in zip(edges, weights):
        out_deg[idx[a]] += w
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.full(n, (1.0 - d) / n)
        for (a, b), w in zip(edges, weights):
            nxt[idx[b]] += d * r[idx[a]] * w / out_deg[idx[a]]
        r = nxt
    return {node: r[idx[node]] for node in nodes}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = pagerank(df, "src", "dst", **kw).collect()
    return {r["node"]: r["rank"] for r in got}


def test_matches_numpy_power_iteration(spark):
    got = _run(spark, EDGES)
    want = numpy_pagerank(EDGES)
    assert set(got) == set(want)
    for node in want:
        assert got[node] == pytest.approx(want[node], abs=1e-9), node


def test_weighted_matches_numpy_power_iteration(spark):
    # TextRank's path: co-occurrence counts as edge weights
    weights = [5, 1, 5, 1, 2, 3, 3, 1, 1]
    df = spark.createDataFrame(
        [(a, b, w) for (a, b), w in zip(EDGES, weights)],
        "src bigint, dst bigint, w bigint",
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, "src", "dst", weight=F.col("w")).collect()
    }
    want = numpy_pagerank(EDGES, weights=weights)
    assert want != pytest.approx(numpy_pagerank(EDGES), abs=1e-6)
    assert set(got) == set(want)
    for node in want:
        assert got[node] == pytest.approx(want[node], abs=1e-9), node


def test_ranking_order_is_sane(spark):
    got = _run(spark, EDGES)
    # 5 has three in-edges (3, 4, 6) — top of the graph; 4 and 6 are
    # structurally identical (fed only by 5, feed only 5) so tie exactly;
    # 2 and 3 are fed only by 1's split mass and sit at the bottom
    assert got[5] == max(got.values())
    assert got[4] == got[6]
    assert got[2] == got[3]
    assert got[5] > got[1] > got[2]


def test_exact_invariance_under_repartition(spark):
    df = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    a = {r["node"]: r["rank"] for r in pagerank(df, "src", "dst").collect()}
    b = {
        r["node"]: r["rank"]
        for r in pagerank(df.repartition(13), "src", "dst").collect()
    }
    assert a == b  # bit-identical, not approx — the decimal-snap contract


def test_symmetric_graph_conserves_mass(spark):
    df = symmetrize(spark.createDataFrame(EDGES, "src bigint, dst bigint"), "src", "dst")
    ranks = _run(spark, [(r["a"], r["b"]) for r in df.collect()])
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)


# --- HITS (operators/hits.py) ---

BIP_EDGES = [  # customers 1-4 x parts 101-104; 101 is the popular authority
    (1, 101),
    (1, 102),
    (2, 101),
    (2, 103),
    (3, 101),
    (3, 102),
    (3, 104),
    (4, 104),
]


def numpy_hits(edges, rounds=8):
    srcs = sorted({a for a, _ in edges})
    dsts = sorted({b for _, b in edges})
    si = {n: i for i, n in enumerate(srcs)}
    di = {n: i for i, n in enumerate(dsts)}
    A = np.zeros((len(srcs), len(dsts)))
    for a, b in edges:
        A[si[a], di[b]] = 1.0
    h = np.full(len(srcs), 1.0 / len(srcs))
    a = None
    for _ in range(rounds):
        a = A.T @ h
        a /= a.sum()
        h = A @ a
        h /= h.sum()
    return {n: h[si[n]] for n in srcs}, {n: a[di[n]] for n in dsts}


def test_hits_matches_numpy(spark):
    from candyspark.operators.hits import hits

    df = spark.createDataFrame(BIP_EDGES, "src bigint, dst bigint")
    hubs, auths = hits(df, rounds=8)
    got_h = {r["src"]: r["hub"] for r in hubs.collect()}
    got_a = {r["dst"]: r["auth"] for r in auths.collect()}
    want_h, want_a = numpy_hits(BIP_EDGES)
    assert set(got_h) == set(want_h) and set(got_a) == set(want_a)
    for n in want_h:
        assert got_h[n] == pytest.approx(want_h[n], abs=1e-9), ("hub", n)
    for n in want_a:
        assert got_a[n] == pytest.approx(want_a[n], abs=1e-9), ("auth", n)
    # the popular part dominates; customer 3 (3 purchases incl. it) top hub
    assert max(got_a, key=got_a.get) == 101
    assert max(got_h, key=got_h.get) == 3


def test_hits_random_graph_matches_numpy(spark):
    rng = np.random.default_rng(7)
    edges = list(
        {
            (int(rng.integers(1, 12)), int(100 + rng.integers(1, 15)))
            for _ in range(60)
        }
    )
    from candyspark.operators.hits import hits

    df = spark.createDataFrame(sorted(edges), "src bigint, dst bigint")
    hubs, auths = hits(df, rounds=8)
    got_h = {r["src"]: r["hub"] for r in hubs.collect()}
    got_a = {r["dst"]: r["auth"] for r in auths.collect()}
    want_h, want_a = numpy_hits(sorted(edges))
    for n in want_h:
        assert got_h[n] == pytest.approx(want_h[n], abs=1e-9), ("hub", n)
    for n in want_a:
        assert got_a[n] == pytest.approx(want_a[n], abs=1e-9), ("auth", n)


def test_hits_invariant_under_repartition(spark):
    """The decimal-snap discipline makes scores bit-identical whatever the
    partitioning — the property that makes an iterative float algorithm
    testable at all."""
    from candyspark.operators.hits import hits

    df = spark.createDataFrame(BIP_EDGES, "src bigint, dst bigint")
    _, a1 = hits(df, rounds=6)
    _, a2 = hits(df.repartition(13, "dst"), rounds=6)
    s1 = {r["dst"]: r["auth"] for r in a1.collect()}
    s2 = {r["dst"]: r["auth"] for r in a2.collect()}
    assert s1 == s2
