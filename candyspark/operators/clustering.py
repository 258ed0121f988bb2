"""Distributed k-means (Lloyd) over embedding columns — the iterative-
algorithm pattern, DataFrame-native.

The reference has no iterative computation beyond its per-day driver loop
(SURVEY.md §4.2 — an anti-pattern this engine replaced with single
passes); k-means is the canonical computation that genuinely IS iterative,
so it demonstrates the engine's discipline for that class:

- **Assignment** folds the (tiny) centroid table into one broadcast array
  row and takes a per-vector struct-min of (L2 distance, cluster_id) over
  it — no shuffle of the vectors, no per-vector rank.
- **Update** recomputes centroids as per-dimension means: ``posexplode``
  the vectors, aggregate ``(cluster, dim) → avg``, fold back to arrays
  with ``array_sort(collect_list(...))``. The only shuffle per iteration,
  and it moves |vectors|·dim scalar rows — map-side partial averaging
  keeps the exchange small.
- **Lineage is cut per iteration** with ``localCheckpoint()`` — without
  it, iteration i's plan contains i copies of the assignment join and
  Catalyst re-optimizes a linearly-growing tree (the SURVEY.md §4.2
  "10-deep lineage growth" failure mode, solved the sanctioned way).

Everything is deterministic: seeds are the k lowest-id vectors, distance
ties break on cluster_id, so tests can pin exact assignments against a
numpy reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from candyspark.operators.similarity import ID_COL, VEC_COL, l2sq


def assign_clusters(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest centroid per vector (L2, ties → lowest cluster_id).
    Centroids broadcast; output (vec_id, embedding, cluster_id).

    Round-7 form: the centroid table folds into ONE broadcast array row and
    the argmin is a scan-stage `aggregate` + `least` over
    struct(d2, cluster_id) — zero shuffle, zero row multiplication. The
    previous form crossJoined k centroid rows per vector and ranked a
    window partitioned by vector id, which shuffled k× the vector bytes and
    sorted them per vector. Values identical on finite inputs: the same
    l2sq doubles feed a lexicographic struct-min, which is exactly
    (d2 asc, cluster_id asc) row_number=1 — ties fall to the lowest
    cluster_id either way. (Contract: vectors are finite — a NaN distance
    loses the struct-min where the window sorted it last; both orderings
    only diverge when EVERY distance is NaN, impossible for finite data.)
    An empty centroid table assigns nothing: zero rows, not every vector
    under the fold's seed id.
    """
    cents = centroids.agg(
        F.array_sort(F.collect_list(F.struct("cluster_id", "c_vec"))).alias(
            "__cents"
        )
    ).filter(F.size("__cents") > 0)
    init = F.struct(
        F.lit(float("inf")).alias("d2"),
        F.lit(2**31 - 1).cast("int").alias("cid"),
    )
    best = F.aggregate(
        F.col("__cents"),
        init,
        lambda acc, c: F.least(
            acc,
            F.struct(
                l2sq(F.col(VEC_COL), c["c_vec"]).alias("d2"),
                c["cluster_id"].alias("cid"),
            ),
        ),
    )
    return (
        vectors.select(ID_COL, VEC_COL)
        .crossJoin(F.broadcast(cents))
        .select(ID_COL, VEC_COL, best["cid"].alias("cluster_id"))
    )


def _recompute_centroids(assigned: DataFrame) -> DataFrame:
    """Per-dimension mean per cluster, folded back into arrays (JVM-side:
    posexplode → exact-sum mean → array_sort(collect_list(struct)) →
    transform).

    The mean is (Σ quantized values)/count with values snapped to 10 dp
    through DECIMAL before the sum — NOT ``F.avg`` — because a float avg
    is partial-accumulation-ORDER-dependent: on a different partitioning
    (or a different engine) the same cluster gets a centroid differing in
    the last ulp, which can flip a distance tie downstream. Decimal sums
    are exact and order-free, the single division is IEEE-identical
    everywhere, and the float32 cast is the same rounding on both engines
    — this is what makes the whole iterated pipeline hash-checkable
    against the SQL oracle (KMEANS_CLUSTERS_SQL) and repartition-stable.
    """
    dims = assigned.select("cluster_id", F.posexplode(VEC_COL).alias("pos", "val"))
    means = dims.groupBy("cluster_id", "pos").agg(
        F.sum(F.round(F.col("val").cast("decimal(28,12)"), 10)).alias("s"),
        F.count(F.lit(1)).alias("m"),
    ).select(
        "cluster_id",
        "pos",
        (F.col("s").cast("double") / F.col("m").cast("double"))
        .cast("float")
        .alias("mean_val"),
    )
    return means.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s.mean_val,
        ).alias("c_vec")
    )


def kmeans(vectors: DataFrame, k: int, max_iter: int) -> tuple[DataFrame, DataFrame]:
    """Lloyd's algorithm: returns (assignments, centroids). Deterministic
    seeding (k lowest-id vectors) and tie-breaks — same inputs, same
    clusters, on any partitioning."""
    centroids = vectors.filter(F.col(ID_COL) < k).select(
        F.col(ID_COL).cast("int").alias("cluster_id"), F.col(VEC_COL).alias("c_vec")
    )
    for _ in range(max_iter):
        assigned = assign_clusters(vectors, centroids)
        centroids = _recompute_centroids(assigned).localCheckpoint()
    return assign_clusters(vectors, centroids), centroids
