"""Distributed HITS (hubs & authorities, Kleinberg 1999) — the directed /
bipartite centrality companion to PageRank (operators/pagerank.py). No
reference counterpart (extension surface, SURVEY.md §2.13): the use case is
two-sided importance on a directed relation — e.g. customers as hubs and
parts as authorities over the purchase relation, or query↔document graphs.

Scale design mirrors pagerank exactly:
- Each half-round is ONE shuffle: edge-carried scores grouped by the other
  endpoint. The edge relation is localCheckpointed once OUTSIDE the loop;
  the loop body re-shuffles only (node, score).
- ``localCheckpoint(eager=True)`` per round truncates lineage.
- Fixed iteration count (8 rounds is the standard operating point), no
  driver-side convergence action.
- The AUTH-side normalization is folded out of the loop: L1 normalization
  is scale-invariant (normalize(A.T @ c*h) == normalize(A.T @ h) for any
  global scalar c), so normalizing only the hub vector each round yields
  the textbook fixed point while halving the per-round job count — one
  eager checkpoint (2 keyed shuffles + 1 broadcast total) per round
  instead of two. Unnormalized auth magnitudes stay bounded by max
  in-degree (hubs sum to 1), well inside DECIMAL(24,14)'s 10 integer
  digits; auths are normalized once on return.

Determinism (the pagerank discipline): per-edge contributions snap to exact
DECIMAL(24,14) before each sum — decimal addition is associative where the
double sum is partitioning-order-dependent — and the L1 normalization
divides by the exact decimal total with one 14-dp snap per node per round.
Scores are then bit-identical under repartition (pinned in tests).

Normalization: L1 (scores sum to 1 per side) rather than the textbook L2 —
sqrt is a per-round float whose last-ulp drift would break the decimal
discipline; L1 yields the same ranking and the same fixed point up to
scaling, and is what power-iteration implementations at scale use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SNAP = "decimal(24,14)"


def _l1_normalize(scores: DataFrame, col: str) -> DataFrame:
    """L1-normalize ``col`` by its exact decimal total. The total is an
    UNPARTITIONED window sum, so the per-round normalize rides the round's
    checkpoint/broadcast job; a separate total aggregate would cost a job
    of its own (round-7, guide §2.4 — measured 2 jobs/round over 8
    rounds). The single-partition window pass is over the NODE-grain score
    relation, which is broadcast-scale by the loop's own design (see
    ``hits``)."""
    w = Window.partitionBy()
    return scores.select(
        scores.columns[0],
        F.round(
            (F.col(col).cast(_SNAP) / F.sum(F.col(col).cast(_SNAP)).over(w)).cast(
                _SNAP
            ),
            14,
        )
        .cast("double")
        .alias(col),
    )


def hits(
    edges: DataFrame,
    rounds: int = 8,
    prepared: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """HITS over a directed edge relation (columns ``src``, ``dst``).

    Returns ``(hubs, auths)``: DataFrames (src, hub) and (dst, auth), both
    L1-normalized, after ``rounds`` full hub→authority→hub iterations.
    Dangling behavior: a src with no in-pointing dsts keeps contributing
    (HITS has no damping; nodes outside the edge relation simply don't
    appear — on the purchase bipartite graph every listed node has ≥1
    edge by construction).

    The score vector has one row per NODE while the join runs over EDGES
    — on bipartite retail graphs (customers × parts) nodes ≪ edges, so
    the score side is broadcast: each half-round's join runs map-side and
    only the partial-aggregated (node, score) combine goes on the wire;
    the edge relation is never re-shuffled.
    """
    # prepared=True: the caller passes an already-DISTINCT, already-
    # MATERIALIZED (checkpointed) (src, dst) relation — so a caller that
    # also aggregates over the same edge set (q_hits' buyers count) shares
    # ONE edge build instead of re-deriving the join+distinct at
    # consumption (round-7; the re-derivation was ~2 s of the final job).
    e = (
        edges.select("src", "dst")
        if prepared
        else edges.select("src", "dst").distinct().localCheckpoint()
    )
    hubs = _l1_normalize(
        e.select("src").distinct().withColumn("hub", F.lit(1.0)), "hub"
    ).localCheckpoint()
    raw_a = None
    for r in range(rounds):
        raw_a = (
            e.join(F.broadcast(hubs), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("hub").cast(_SNAP)).alias("auth"))
        )
        if r == rounds - 1:
            # Final round (round-7): checkpoint the AUTH side — the returned
            # auths then normalize over the checkpoint instead of re-running
            # the last edge join at consumption, and the final raw_h stays
            # LAZY so hub-only work is skipped when (as in the registered
            # consumer) only auths are read. Values are unchanged: the same
            # raw_a relation feeds both, normalize is the same ladder.
            raw_a = raw_a.localCheckpoint(eager=True)
        # Checkpoint the RAW hub sums, normalize lazily on top: normalizing
        # before the checkpoint makes the L1 total a broadcast subquery that
        # re-evaluates the edge join (3 edge passes/round instead of 2 —
        # measured 8.1 s → 6.3 s at sf0.1 on the purchase graph). The
        # normalize over the checkpointed node-sized relation is free by
        # comparison, and the next round's broadcast collects through it.
        raw_h = (
            e.join(F.broadcast(raw_a), "dst")
            .groupBy("src")
            .agg(F.sum(F.col("auth").cast(_SNAP)).alias("hub"))
        )
        if r < rounds - 1:
            raw_h = raw_h.localCheckpoint(eager=True)
        hubs = _l1_normalize(raw_h, "hub")
    return hubs, _l1_normalize(raw_a, "auth")
