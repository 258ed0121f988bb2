"""Distributed PageRank (power iteration) — the graph-centrality companion
to the dedup component finder (operators/components.py). No reference
counterpart (extension surface, SURVEY.md §2.13): the use case here is
ranking nodes of a similarity / co-occurrence graph (e.g. "most central
products" over market-basket edges, or hub documents in a near-dup graph).

``power_iterate`` is the one power-iteration kernel of the graph family:
``pagerank`` (and through it TextRank, plans/corpus.py), personalized
PageRank and Katz centrality (plans/graph.py) differ only in the
per-edge contribution and the per-node update they pass it.

Scale design mirrors connected_components:
- The node-grain state is BROADCAST into the edge join each round, so the
  edge relation is never re-shuffled; the round's one keyed shuffle is the
  per-destination sum of the contributions, itself broadcast onto the node
  set. Edge attributes (out-degree, weights) are pre-joined once OUTSIDE
  the loop.
- ``localCheckpoint(eager=True)`` per round truncates lineage (without it
  round N replays rounds 1..N-1).
- Fixed iteration count, no driver-side convergence scan — at 100 TB the
  delta check would be an extra action per round; 8-12 rounds is the
  standard operating point.

Determinism: floating-point `sum` is partitioning-order-dependent, so each
round snaps (a) per-edge contributions to exact DECIMAL(24,14) before the
sum — decimal addition is associative, the double sum is not — and (b) the
resulting rank to 12 dp. Ranks are then bit-identical under repartition
(pinned in tests), which is what makes an iterative float algorithm
testable at all.

Simplified variant: dangling-node mass is not redistributed (nodes with no
out-edges leak their rank). On the symmetrized graphs this engine feeds it
(co-occurrence, similarity), every node has out-degree ≥ 1, so the
simplification is exact there.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _snap12(c):
    return F.round(c.cast("decimal(28,14)"), 12).cast("double")


def power_iterate(
    edges: DataFrame,
    nodes: DataFrame,
    state: DataFrame,
    contrib: Column,
    update: Column,
    rounds: int,
) -> DataFrame:
    """``rounds`` synchronous rounds of ``state' = update(Σ_{s→t} contrib)``.

    ``edges`` has columns ``s``, ``t`` (plus any edge attributes);
    ``nodes`` and ``state`` are keyed by ``node``. ``contrib`` is
    evaluated on each edge joined with the state of its source ``s``;
    ``update`` is evaluated on ``nodes`` left-joined with ``mass``, the
    summed contributions into each node (NULL for a node with no in-edge),
    and must be aliased to the state column. Each round ends in one eager
    checkpoint; returns the last state ``(node, <state>)``.
    """
    for _ in range(rounds):
        # state and mass are node-grain (≪ edges); the explicit hints
        # matter: a checkpointed round output is a fresh LogicalRDD whose
        # default size estimate blocks the automatic broadcast, which would
        # re-shuffle the edge relation every round
        mass = (
            edges.join(F.broadcast(state), edges["s"] == state["node"])
            .groupBy(F.col("t").alias("node"))
            .agg(F.sum(contrib).alias("mass"))
        )
        state = (
            nodes.join(F.broadcast(mass), "node", "left")
            .select("node", update)
            .localCheckpoint(eager=True)
        )
    return state


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 8,
    weight: Column | None = None,
) -> DataFrame:
    """Rank every node of the directed edge list. Returns ``(node, rank)``.

    ``weight`` (an expression over ``edges``) makes the walk proportional
    to edge weight — TextRank's co-occurrence counts; unweighted edges
    count 1 each.
    """
    e = edges.select(
        F.col(src).alias("s"),
        F.col(dst).alias("t"),
        (F.lit(1) if weight is None else weight).alias("w"),
    )
    deg = e.groupBy("s").agg(F.sum("w").alias("out_deg"))
    # degree rides on the edges once; the loop never re-joins it
    ew = e.join(deg, "s").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("t").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:  # empty graph: stable (node, rank) schema, zero rows
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n
    mass = F.coalesce(F.col("mass").cast("double"), F.lit(0.0))
    return power_iterate(
        ew,
        nodes,
        nodes.withColumn("rank", F.lit(1.0 / n)),
        (F.col("rank") * F.col("w") / F.col("out_deg")).cast("decimal(24,14)"),
        _snap12(F.lit(base) + F.lit(damping) * mass).alias("rank"),
        iterations,
    )
