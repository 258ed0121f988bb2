"""Distributed label propagation (LPA) — community detection by plurality
vote (Raghavan et al. 2007, "Near linear time algorithm to detect community
structures"). Extension surface (SURVEY.md §2.13; no reference counterpart —
/root/reference has no graph operators at all).

Where it sits in the graph family: connected_components answers
*connectivity* ("which nodes touch at all") — the dedup-group question; LPA
answers *density* ("which nodes cluster together"), the bundle/segment
question that q_graph_modularity scores and q_kcore_parts bounds. A
co-purchase graph is usually ONE connected component; LPA splits it into
the communities the component hides.

Algorithm (synchronous, deterministic): every node starts labeled with
itself; each round every node adopts the label with the highest vote count
among its neighbors PLUS ITSELF (the self-vote damps the 2-cycle
oscillation synchronous LPA is known for on near-bipartite regions), ties
broken by the SMALLEST label. Synchronous updates + total tie order make
every round a pure function of the previous labeling — bit-identical under
repartition (pinned in tests), unlike the literature's asynchronous
variant whose result depends on visit order.

Scale design (the connected-components discipline, operators/components.py):
- Each round is one edge-keyed join + two keyed aggregates — O(|E|) work,
  no per-node state beyond (node, label).
- The plurality argmax is ``min(struct(-cnt, label))`` — one aggregate,
  no window over a node's full vote list.
- ``localCheckpoint(eager=True)`` per round truncates lineage, and the
  convergence check rides that checkpoint job: the self-vote is tagged, so
  the vote aggregate also yields each node's old label, and an
  ``observe()`` metric counts the CHANGED labels (``checkpoint_observed``,
  the connected-components pattern) — one driver action per round.
- Rounds are bounded (``ROUNDS``): LPA converges in a handful of sweeps on
  modular graphs, and a fixed bound keeps worst-case behavior predictable
  at 100 TB (the components ``MAX_ROUNDS``, same reasoning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from candyspark.operators.components import checkpoint_observed, symmetrize

#: synchronous vote rounds; the oracle SQL of label_propagation unrolls as many
ROUNDS = 5


def label_propagation(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Synchronous LPA over an undirected view of ``edges``.

    Returns ``(node, label)`` — nodes sharing a label form one community.
    Deterministic: synchronous rounds, self-vote included, ties to the
    smallest label; independent of partitioning and join order.
    """
    und = symmetrize(edges, src, dst).localCheckpoint(eager=True)
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(ROUNDS):
        neighbor_votes = und.join(
            labels.select(F.col("node").alias("b"), "label"), "b"
        ).select(F.col("a").alias("node"), "label", F.lit(False).alias("own"))
        votes = neighbor_votes.unionByName(
            labels.select("node", "label", F.lit(True).alias("own"))
        )
        counted = votes.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("cnt"), F.max("own").alias("own")
        )
        labels, changed = checkpoint_observed(
            counted.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("neg_cnt"),
                        F.col("label").alias("l"),
                    )
                ).alias("m"),
                F.max(F.when(F.col("own"), F.col("label"))).alias("old"),
            )
            .select("node", F.col("m.l").alias("label"), "old"),
            F.sum((F.col("label") != F.col("old")).cast("long")),
        )
        labels = labels.drop("old")
        if not changed:
            break
    return labels
