"""Connected components (operators/components.py): fixpoint correctness vs
a driver-side union-find, convergence on long chains, and partitioning
invariance — the determinism contract of the dedup-cluster stage."""

from __future__ import annotations

from pyspark.sql import functions as F

from candyspark.operators.components import connected_components, dedup_clusters
from candyspark.plans.graph import _near_dup_pairs

SF_DIR = "/root/testdata/sf0.001"


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-id label per node
    labels = {}
    for n in list(parent):
        root = find(n)
        members = [m for m in parent if find(m) == root]
        labels[n] = min(members)
    return labels


def test_components_match_union_find(spark):
    pairs = _near_dup_pairs(spark, SF_DIR)
    edge_list = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    assert edge_list, "fixture should contain near-dup pairs"
    expected = _union_find(edge_list)
    got = {
        r.node: r.component
        for r in connected_components(pairs, "doc_a", "doc_b").collect()
    }
    assert got == expected


def test_long_chain_converges(spark):
    # path graph 0-1-2-...-19: worst-case diameter for one-hop propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "src bigint, dst bigint"
    )
    comp = connected_components(edges)
    rows = comp.collect()
    assert len(rows) == 20
    assert {r.component for r in rows} == {0}


def test_two_components_and_sizes(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, 1)], "src bigint, dst bigint"
    )
    out = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in dedup_clusters(edges, "src", "dst").collect()
    }
    assert out == {1: (1, 3), 2: (1, 3), 3: (1, 3), 10: (10, 2), 11: (10, 2)}


def test_repartition_invariance(spark):
    pairs = _near_dup_pairs(spark, SF_DIR)
    base = sorted(
        (r.node, r.component)
        for r in connected_components(pairs, "doc_a", "doc_b").collect()
    )
    skewed = sorted(
        (r.node, r.component)
        for r in connected_components(pairs.repartition(3), "doc_a", "doc_b").collect()
    )
    assert base == skewed


def test_triangle_counts_match_brute_force_on_random_graphs(spark):
    """The degree-oriented wedge join must count triangles exactly on
    arbitrary graphs — verified against a brute-force itertools reference
    over random edge sets (hub-heavy shapes included: vertex 0 connects to
    everything in the densest draws, exercising the orientation's tie
    handling)."""
    import itertools
    import random

    from candyspark.plans.graph import triangles_per_vertex

    rng = random.Random(20260814)
    for trial in range(6):
        n = rng.randint(4, 12)
        pairs = list(itertools.combinations(range(n), 2))
        edges = sorted(rng.sample(pairs, k=rng.randint(3, len(pairs))))
        adj = {x: set() for x in range(n)}
        for u, v in edges:
            adj[u].add(v)
            adj[v].add(u)
        expect: dict[int, int] = {}
        for a, b, c in itertools.combinations(range(n), 3):
            if b in adj[a] and c in adj[a] and c in adj[b]:
                for x in (a, b, c):
                    expect[x] = expect.get(x, 0) + 1

        und = spark.createDataFrame(edges, "u long, v long")
        got = {
            r["vertex"]: r["n_triangles"]
            for r in triangles_per_vertex(und).collect()
        }
        assert got == expect, (trial, edges, got, expect)


def test_kcore_matches_bruteforce_peeling(spark):
    """kcore_decompose ≡ single-threaded peeling on random graphs with
    hubs, chains, and isolated pairs — survivors AND within-core degrees."""
    import itertools
    import random

    from candyspark.plans.graph import kcore_decompose

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(4, 14)
        all_pairs = list(itertools.combinations(range(n), 2))
        edges = sorted(rng.sample(all_pairs, rng.randint(3, len(all_pairs))))
        k = rng.randint(2, 4)

        adj = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        changed = True
        while changed:
            changed = False
            for x in list(adj):
                if len(adj[x]) < k:
                    for y in adj.pop(x):
                        adj[y].discard(x)
                    changed = True
        expect = {x: len(nbrs) for x, nbrs in adj.items() if nbrs}

        df = spark.createDataFrame(edges, "u long, v long")
        got = {
            r["vertex"]: r["core_degree"]
            for r in kcore_decompose(df, k=k).collect()
        }
        assert got == expect, f"trial={trial} k={k} edges={edges}"


def _lpa_reference(edge_list, rounds=5):
    """Independent single-threaded synchronous LPA with self-vote and
    min-label tie-break (mirrors operators/lpa.py's contract)."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for a, b in edge_list:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    labels = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v in adj:
            votes = Counter(labels[u] for u in adj[v])
            votes[labels[v]] += 1
            best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))
            new[v] = best[0]
        if new == labels:
            break
        labels = new
    return labels


def test_lpa_matches_reference_on_random_graphs(spark):
    import random

    from candyspark.operators.lpa import label_propagation

    rng = random.Random(7)
    for trial in range(3):
        n = 30 + trial * 10
        edges = set()
        # two planted cliques + random noise edges
        for grp in (range(0, 8), range(10, 17)):
            grp = list(grp)
            for i in grp:
                for j in grp:
                    if i < j:
                        edges.add((i, j))
        for _ in range(n):
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        df = spark.createDataFrame(sorted(edges), "src long, dst long")
        got = {
            r["node"]: r["label"]
            for r in label_propagation(df).collect()
        }
        want = _lpa_reference(sorted(edges), rounds=5)
        assert got == want, f"trial {trial}: {got} != {want}"


def test_lpa_repartition_invariance(spark):
    from candyspark.operators.lpa import label_propagation

    edges = [(i, i + 1) for i in range(12)] + [(0, 5), (2, 7), (20, 21)]
    df = spark.createDataFrame(edges, "src long, dst long")
    base = {r["node"]: r["label"] for r in label_propagation(df).collect()}
    shuffled = {
        r["node"]: r["label"]
        for r in label_propagation(df.repartition(13)).collect()
    }
    assert base == shuffled


def test_lpa_two_cliques_separate(spark):
    from candyspark.operators.lpa import label_propagation

    edges = [
        (a, b) for grp in ([0, 1, 2, 3], [10, 11, 12, 13]) for a in grp for b in grp if a < b
    ] + [(3, 10)]  # one bridge edge
    df = spark.createDataFrame(edges, "src long, dst long")
    labels = {r["node"]: r["label"] for r in label_propagation(df).collect()}
    assert labels[0] == labels[1] == labels[2] == labels[3] == 0
    assert labels[11] == labels[12] == labels[13] == 10
