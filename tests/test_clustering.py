"""k-means (operators/clustering.py) pinned against a same-semantics numpy
reference: identical seeding (k lowest ids), identical tie-breaks (lowest
cluster_id), so assignments must match EXACTLY, not just in quality."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row

from candyspark.operators.clustering import kmeans


def _numpy_kmeans(X, ids, k, max_iter):
    order = np.argsort(ids)
    X, ids = X[order], ids[order]
    centroids = {int(i): X[ids == i][0].astype(np.float64) for i in ids if i < k}
    assign = None
    for _ in range(max_iter):
        cids = sorted(centroids)
        C = np.array([centroids[c] for c in cids])
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = np.array([cids[j] for j in d2.argmin(axis=1)])  # argmin = lowest index tie-break
        centroids = {
            # mirror the engine's exact-sum mean: values quantized to 10 dp
            # before the sum, one division, float32 snap
            c: np.array(
                [
                    np.float32(v)
                    for v in np.round(X[assign == c], 10).sum(axis=0)
                    / (assign == c).sum()
                ],
                dtype=np.float64,
            )
            for c in cids
            if (assign == c).any()
        }
    cids = sorted(centroids)
    C = np.array([centroids[c] for c in cids])
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    final = np.array([cids[j] for j in d2.argmin(axis=1)])
    return dict(zip(ids.tolist(), final.tolist()))


@pytest.fixture()
def toy(spark):
    rng = np.random.default_rng(7)
    blobs = np.concatenate(
        [rng.normal(c, 0.3, size=(20, 4)) for c in (0.0, 3.0, -3.0)]
    ).astype(np.float32)
    ids = np.arange(len(blobs))
    df = spark.createDataFrame(
        [Row(vec_id=int(i), embedding=[float(x) for x in v]) for i, v in zip(ids, blobs)],
        "vec_id long, embedding array<float>",
    )
    return df, blobs.astype(np.float64), ids


def test_kmeans_matches_numpy_reference(spark, toy):
    df, X, ids = toy
    assigned, _ = kmeans(df, k=3, max_iter=4)
    got = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    want = _numpy_kmeans(X, ids, k=3, max_iter=4)
    assert got == want


def test_kmeans_invariant_under_repartitioning(spark, toy):
    df, _, _ = toy
    a1, _ = kmeans(df, k=3, max_iter=3)
    a2, _ = kmeans(df.repartition(7), k=3, max_iter=3)
    assert {(r["vec_id"], r["cluster_id"]) for r in a1.collect()} == {
        (r["vec_id"], r["cluster_id"]) for r in a2.collect()
    }


def test_kmeans_separates_obvious_blobs(spark, toy):
    df, _, ids = toy
    assigned, centroids = kmeans(df, k=3, max_iter=4)
    rows = assigned.collect()
    by_blob = {}
    for r in rows:
        by_blob.setdefault(r["vec_id"] // 20, set()).add(r["cluster_id"])
    # each ground-truth blob ends up in exactly one cluster, all distinct
    assert all(len(s) == 1 for s in by_blob.values())
    assert len({s.pop() for s in by_blob.values()}) == 3
    assert centroids.count() == 3


def test_assign_clusters_empty_centroids_assigns_nothing(spark, toy):
    """No centroids, no assignments: zero rows, not every vector labeled
    with the argmin fold's seed id."""
    from candyspark.operators.clustering import assign_clusters

    df, _, _ = toy
    empty = spark.createDataFrame([], "cluster_id int, c_vec array<float>")
    assert assign_clusters(df, empty).count() == 0
