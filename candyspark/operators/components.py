"""Distributed connected components — the transitive-closure stage of
near-duplicate removal (SURVEY.md §2.13 extension surface; no reference
counterpart — /root/reference stops at exact per-key dedup semantics,
`src/data_processor.py:398`).

Why this operator exists: pairwise near-dup detectors (MinHash-LSH, n-gram
Jaccard, embedding cosine — operators/dedup.py, operators/similarity.py)
emit EDGES. Deduplication policy ("keep one document per duplicate
*group*") needs the connected components of that graph, because near-dup
similarity is not transitive: A~B and B~C does not imply A~C, yet all three
must land in one group or the kept set still contains near-dups.

Algorithm: iterative min-label propagation ("hash-to-min" one-hop variant).
Every node starts labeled with itself; each round every node takes the min
of its own label and its neighbors' labels; fixpoint = per-component min id.

Scale design:
- Rounds are O(component diameter), NOT O(graph size). Near-dup components
  are short-diameter (stars around popular templates), so 3-6 rounds is
  typical at any corpus size. For adversarial long-chain graphs the
  literature's large-star/small-star alternation (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14) converges in O(log²) rounds
  — the loop below is shaped so that swap is local (one join per round
  either way).
- Each round is one shuffle-join on node id + one min-aggregate; AQE plans
  both on the same hash partitioning.
- `localCheckpoint(eager=True)` per round truncates the lineage — without
  it round N replays rounds 1..N-1 (the reference's 10-deep chained-join
  mistake, SURVEY.md §4.2, made exponential).
- The convergence check launches no job of its own: an `observe()` metric
  counts the CHANGED labels while the checkpoint job materializes the
  round, so each round costs exactly one driver action
  (``checkpoint_observed``, shared with the LPA and k-core loops).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected edge list: (a,b) ∪ (b,a), self-loops dropped, distinct."""
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    rev = edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    return fwd.unionByName(rev).filter(F.col("a") != F.col("b")).distinct()


def checkpoint_observed(df: DataFrame, metric: Column) -> tuple[DataFrame, Any]:
    """Eagerly ``localCheckpoint`` ``df`` and return it with the value of
    the aggregate ``metric`` over its rows, computed by the checkpoint job
    itself through ``observe()`` — a convergence test costs no job of its
    own. ``df`` must reach the plan once: observing a frame that feeds two
    branches of one plan failed the job (an AssertionError in toPyRow)."""
    obs = Observation()
    out = df.observe(obs, metric.alias("n")).localCheckpoint(eager=True)
    return out, obs.get["n"]


#: label-propagation rounds before connected_components gives up; each round
#: moves a label one hop, so this bounds the component diameter it handles
MAX_ROUNDS = 50


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Labels every node that appears in ``edges`` with the minimum node id
    of its connected component. Returns ``(node, component)``.

    Deterministic: the fixpoint is unique (per-component min), independent
    of partitioning and iteration order — tests pin invariance under
    `repartition`.
    """
    und = symmetrize(edges, src, dst).localCheckpoint(eager=True)
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(MAX_ROUNDS):
        # min neighbor label per node, one hop
        nbr_min = (
            und.join(labels, und["b"] == labels["node"])
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        labels, changed = checkpoint_observed(
            labels.join(nbr_min, "node", "left").select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", "component")
                ).alias("component"),
                F.col("component").alias("prev"),
            ),
            F.sum((F.col("component") < F.col("prev")).cast("long")),
        )
        labels = labels.drop("prev")
        if not changed:
            return labels
    raise RuntimeError(f"connected_components did not converge in {MAX_ROUNDS} rounds")


def dedup_clusters(
    pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b"
) -> DataFrame:
    """Near-dup pairs → duplicate groups: ``(doc_id, cluster_id,
    cluster_size)`` for every document that appears in at least one pair.
    ``cluster_id`` is the min doc id of the group (the canonical survivor
    under keep-lowest policy)."""
    comp = connected_components(pairs, id_a, id_b)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
        )
    )
