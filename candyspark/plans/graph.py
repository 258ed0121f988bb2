"""Duplicate-group queries: near-dup pairs → connected components →
keep-one-per-group survivors (the policy stage of corpus dedup; extension
surface, SURVEY.md §2.13 — the reference stops at per-key exact dedup,
/root/reference/src/data_processor.py:398).

The DuckDB oracles state the same fixpoint with a recursive CTE (min label
over the transitive closure) — the component labeling is iteration-order-
independent, so the one-hop Spark loop and the closure recursion agree
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from candyspark.operators import dedup as D
from candyspark.operators.components import checkpoint_observed, dedup_clusters
from candyspark.operators.lpa import ROUNDS as LPA_ROUNDS
from candyspark.plans.extensions import DEDUP_MINHASH_SQL
from candyspark.sources.readers import load_table

#: power-iteration rounds of pagerank_parts, personalized_pagerank and
#: hits_customers_parts; each oracle unrolls the same count
PAGERANK_ROUNDS = 8
#: k of kcore_parts; peeling stops at its fixpoint or after KCORE_MAX_ROUNDS,
#: and the oracle unrolls KCORE_ORACLE_ROUNDS (the fixtures converge in <= 3)
KCORE_K, KCORE_MAX_ROUNDS, KCORE_ORACLE_ROUNDS = 3, 20, 12
#: hops from the hub that bfs_hop_histogram expands
BFS_HOPS = 4

# near-dup edges: the MinHash-LSH pair generator (the linear-ish scale path —
# a lang-blocked all-pairs Jaccard would be O(block²) and was measured 6×
# slower at sf0.1). The oracle embeds plans/extensions.DEDUP_MINHASH_SQL as
# the pair relation, so edges are bit-identical to the dedup_minhash query.
_PAIRS_CTES = f"""
pairs AS (
    SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_SQL})
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b AS a, doc_a AS b FROM pairs),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, label) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
),
lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node)
"""


def _near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same generator + parameters as the dedup_minhash query
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, "text", "doc_id")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups over the near-dup pair graph: every paired document
    labeled with its component's min doc id + the group size. Near-dup
    similarity isn't transitive, so the kept-set policy needs components,
    not pairs (operators/components.py)."""
    return dedup_clusters(_near_dup_pairs(spark, sf_dir)).orderBy("doc_id")


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_PAIRS_CTES}
SELECT l.doc_id, l.cluster_id, c.cluster_size
FROM lab l
JOIN (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id) c
  USING (cluster_id)
ORDER BY doc_id
"""


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-lowest-id-per-group dedup applied to the corpus: per-lang doc
    counts before/after removal. The removed set is exactly the non-canonical
    members of each duplicate group — the anti-join is the 100-TB shape
    (corpus never collects; removal list is |duplicates|-sized)."""
    docs = load_table(spark, sf_dir, "documents")
    removed = (
        dedup_clusters(_near_dup_pairs(spark, sf_dir))
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id", F.lit(1).alias("is_removed"))
    )
    return (
        docs.join(removed, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total_docs"),
            F.sum(F.coalesce("is_removed", F.lit(0))).alias("removed_docs"),
            (F.count(F.lit(1)) - F.sum(F.coalesce("is_removed", F.lit(0)))).alias(
                "kept_docs"
            ),
        )
        .orderBy("lang")
    )


DEDUP_SURVIVORS_SQL = f"""
WITH RECURSIVE {_PAIRS_CTES},
removed AS (SELECT doc_id, 1 AS is_removed FROM lab WHERE doc_id != cluster_id)
SELECT d.lang,
       COUNT(*) AS total_docs,
       CAST(SUM(COALESCE(r.is_removed, 0)) AS BIGINT) AS removed_docs,
       CAST(COUNT(*) - SUM(COALESCE(r.is_removed, 0)) AS BIGINT) AS kept_docs
FROM documents d LEFT JOIN removed r USING (doc_id)
GROUP BY d.lang
ORDER BY d.lang
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-canonical dedup (round 6): within each near-dup cluster keep
    the BEST document — longest text, doc_id as the deterministic tiebreak
    — instead of dedup_survivors' lowest-id policy. This is the curation
    rule production pipelines actually run (near-dups are usually truncated
    or boilerplate-injected variants of one underlying page; keeping the
    longest retains the most content). One row per multi-doc cluster:
    the kept doc, its char mass, and how many docs / chars the policy
    drops. Plan: the MinHash pair graph → components (both shared with
    dedup_clusters, bit-identical by construction) → one broadcast-sized
    rank window per cluster (clusters ≪ corpus) → cluster-grain aggregate;
    the corpus relation is touched once for n_chars."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    cl = dedup_clusters(_near_dup_pairs(spark, sf_dir)).filter(
        F.col("cluster_size") > 1
    )
    ranked = cl.join(d, "doc_id").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.desc("n_chars"), F.asc("doc_id")
            )
        ),
    )
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.max("cluster_size").cast("long").alias("cluster_size"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("kept_doc"),
            F.max(F.when(F.col("rk") == 1, F.col("n_chars"))).cast("long").alias(
                "kept_chars"
            ),
            F.sum(F.when(F.col("rk") > 1, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_dropped"),
        )
        .withColumn("docs_dropped", (F.col("cluster_size") - 1).cast("long"))
        .select(
            "cluster_id", "cluster_size", "kept_doc", "kept_chars",
            "docs_dropped", "chars_dropped",
        )
        .orderBy("cluster_id")
    )


DEDUP_KEEP_BEST_SQL = f"""
WITH RECURSIVE {_PAIRS_CTES},
sized AS (
    SELECT l.doc_id, l.cluster_id, c.cluster_size, d.n_chars
    FROM lab l
    JOIN (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab
          GROUP BY cluster_id) c USING (cluster_id)
    JOIN documents d USING (doc_id)
    WHERE c.cluster_size > 1
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC) AS rk
    FROM sized
)
SELECT cluster_id,
       CAST(MAX(cluster_size) AS BIGINT) AS cluster_size,
       MAX(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc,
       CAST(MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS kept_chars,
       CAST(MAX(cluster_size) - 1 AS BIGINT) AS docs_dropped,
       CAST(SUM(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) AS BIGINT)
           AS chars_dropped
FROM ranked
GROUP BY cluster_id
ORDER BY cluster_id
"""


def q_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the market-basket co-occurrence graph:
    parts are nodes, an (undirected → symmetrized) edge links parts bought
    together in ≥ 2 orders; 8 power iterations, top 50 by rank.

    Iterative (one keyed shuffle per round, lineage checkpointed), so
    rows-only for the driver — like kmeans_clusters; determinism under
    repartitioning is pinned in tests/test_pagerank.py instead."""
    from candyspark.operators.components import symmetrize
    from candyspark.operators.pagerank import pagerank

    pairs = _copurchase_edges(spark, sf_dir).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    edges = symmetrize(pairs, "src", "dst")
    ranks = pagerank(edges, "a", "b", damping=0.85, iterations=PAGERANK_ROUNDS)
    return (
        ranks.select(F.col("node").alias("part"), "rank")
        .orderBy(F.desc("rank"), "part")
        .limit(50)
    )


def _copurchase_edges(
    spark: SparkSession, sf_dir: str, min_orders: int = 2
) -> DataFrame:
    """Undirected thresholded co-purchase edges (u < v, ≥``min_orders``
    shared orders; default 2) — the shared edge relation under triangle
    counting and BFS reachability. ``min_orders=1`` (katz, rich_club) skips
    the count aggregate: a plain distinct on the packed key is the same
    relation cheaper.

    Shuffle discipline (rewritten round 5 after the sf30 decade probe):
    ONE groupBy(order).collect_set(part) performs dedup AND grouping in a
    single 2-long-column shuffle; the ≤ C(items-per-order, 2) pairs per
    order (bounded — SCALE.md "pairwise shapes") are then generated
    JVM-side from the sorted array and fan into the pair-count aggregate
    keyed on ONE packed long (u·2^32+v — half the shuffle key bytes of a
    two-long key). The previous form (dropDuplicates + self-join) paid
    two extra full shuffles of the fact projection plus the self-join's
    sorts before the same pair aggregate — measured sf30 edge build
    122 s → 45 s from this rewrite. The pair aggregate's key cardinality
    is ~#pair-draws (~6·orders, linear in SF: occupied pairs, not the
    parts² pair space), which is the term that must be sized for at
    100 TB — partition count scales with input there, while |E| after
    the ≥2 threshold stays tiny."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        # round 6: pre-partition on the GROUP key so the expensive
        # set-building runs AFTER the exchange on every core — the compact
        # parquet lands in 3 byte-sized splits, serializing the map-side
        # partial collect_set on 3 tasks (profiled 1.5 s); the groupBy
        # reuses this exchange, so the plan still has exactly ONE shuffle
        # carrying the same (okey, pkey) bytes the partial sets would
        .repartition("l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .select("parts")
        .filter(F.size("parts") >= 2)
    )
    m = F.size(F.col("parts"))
    pair_structs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, m), lambda y: F.struct(x.alias("u"), y.alias("v"))
            ),
        )
    )
    # pack (u, v) into one long: part keys are < 2^31 at any generated SF.
    # The bound is ENFORCED, not assumed (round-7 advice fix): a key past
    # 2^31 would silently merge distinct pairs, so the pack raises instead —
    # the fallback at that scale is a (u, v) struct key, same aggregate.
    packed = baskets.select(F.explode(pair_structs).alias("p")).select(
        F.when(
            F.col("p.v") < F.lit(2**31),  # u < v, so v bounds both
            F.shiftleft("p.u", 32) + F.col("p.v"),
        )
        .otherwise(
            F.raise_error(
                "copurchase pair pack overflow: part key >= 2^31 — switch "
                "the pair aggregate to a (u, v) struct key"
            )
        )
        .alias("uv")
    )
    if min_orders <= 1:
        counted = packed.distinct()
    else:
        counted = (
            packed.groupBy("uv")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= min_orders)
            .select("uv")
        )
    return counted.select(
        F.shiftrightunsigned("uv", 32).cast("long").alias("u"),
        F.col("uv").bitwiseAND(F.lit(4294967295)).cast("long").alias("v"),
    )


def copurchase_edges_sql(name: str) -> str:
    """:func:`_copurchase_edges` (``min_orders=2``), DuckDB form: the CTE
    ``name`` of undirected edges (u < v) between parts bought together in
    at least two orders, stated as a distinct self-join."""
    return f"""{name} AS (
    WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
)"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph (edge =
    two parts ordered together ≥2 times): the canonical join-only graph
    analytic. The edge set is DEGREE-ORIENTED before wedge generation —
    each undirected edge points from its (degree, id)-smaller endpoint to
    the larger — which bounds per-vertex out-degree by O(√|E|) and so
    bounds wedge fan-out by O(|E|^1.5) REGARDLESS of hub skew (a raw
    id-oriented self-join is O(Σ deg²) and detonates on power-law graphs
    at 100 TB; this is the standard compact-forward trick). Orientation is
    semantically invisible — every triangle is emitted exactly once, from
    its (degree, id)-minimal wedge — so the DuckDB oracle can state the
    same triangles with plain id-ordering. The ~|E|-row oriented edge set
    is localCheckpointed: it feeds three joins, and without the checkpoint
    Spark would re-run the lineitem self-join three times."""
    return (
        triangles_per_vertex(_copurchase_edges(spark, sf_dir), "l_partkey")
        .orderBy(F.desc("n_triangles"), "l_partkey")
    )


def triangles_per_vertex(und: DataFrame, out_col: str = "vertex") -> DataFrame:
    """Per-vertex triangle counts over an undirected edge set ``(u, v)``
    with u < v and no duplicates — the degree-oriented wedge join described
    in q_triangle_count, reusable over any edge relation (fuzzed against a
    brute-force reference in test_components)."""
    deg = (
        und.select(F.col("u").alias("x"))
        .unionByName(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("x").alias("v"), F.col("deg").alias("deg_v"))
    ranked = und.join(du, "u").join(dv, "v")
    fwd = F.struct("deg_u", "u") < F.struct("deg_v", "v")
    oriented = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd, F.struct(F.col("deg_v").alias("d"), F.col("v").alias("i")))
        .otherwise(F.struct(F.col("deg_u").alias("d"), F.col("u").alias("i")))
        .alias("dst_rank"),
    ).localCheckpoint()
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (F.col("e1.dst_rank") < F.col("e2.dst_rank")),
    ).select(
        F.col("e1.src").alias("s"),
        F.col("e1.dst").alias("a"),
        F.col("e2.dst").alias("b"),
    )
    closer = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    tri = wedges.join(closer, ["a", "b"])
    return (
        tri.select(F.explode(F.array("s", "a", "b")).alias(out_col))
        .groupBy(out_col)
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


TRIANGLE_COUNT_SQL = f"""
WITH {copurchase_edges_sql("e")},
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
SELECT l_partkey, COUNT(*) AS n_triangles
FROM (SELECT a AS l_partkey FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri)
GROUP BY l_partkey
ORDER BY n_triangles DESC, l_partkey
"""


# BFS hop distance from a deterministic seed over the symmetric co-purchase
# graph — ONE recursive-CTE string executed verbatim by BOTH engines (Spark 4
# ships WITH RECURSIVE; before it, this exact fixpoint is the hand-rolled
# loop in operators/components.py — same semantics, now Catalyst-planned).
# The hop cap bounds path enumeration (UNION ALL recursion enumerates walks,
# not visited-sets: each level is one keyed join, and MIN(hop) collapses the
# walk multiplicity — at true graph scale the frontier-dedup loop in
# components.py remains the bounded-memory form; the cap is what keeps the
# walk expansion polynomial here).
PART_REACHABILITY_SQL = f"""
WITH RECURSIVE
{copurchase_edges_sql("e0")},
e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
seed AS (SELECT MIN(u) AS part FROM e),
bfs(part, hop) AS (
    SELECT part, 0 FROM seed
    UNION ALL
    SELECT e.v, b.hop + 1
    FROM bfs b JOIN e ON e.u = b.part
    WHERE b.hop < 3
)
SELECT part AS l_partkey, CAST(MIN(hop) AS INTEGER) AS hops
FROM bfs
GROUP BY part
ORDER BY hops, l_partkey
"""


def q_part_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """≤3-hop BFS reachability (hop distance per part) from the smallest
    part key in the co-purchase graph, via Spark 4's recursive CTE — the
    same fixpoint the DuckDB oracle states inline. The edge relation is
    materialized (localCheckpoint) BEFORE the recursion: Spark re-evaluates
    non-recursive CTEs referenced inside the loop on every iteration, so an
    inlined edge build would re-run the lineitem self-join once per hop
    (measured 16 s → ~2 s at sf0.1 from this one change; DuckDB
    materializes CTEs by default, so its inline form is already cheap)."""
    import uuid

    und = _copurchase_edges(spark, sf_dir)
    sym = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    view = f"copurchase_edges_{uuid.uuid4().hex[:8]}"
    sym.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        WITH RECURSIVE
        seed AS (SELECT MIN(u) AS part FROM {view}),
        bfs(part, hop) AS (
            SELECT part, 0 FROM seed
            UNION ALL
            SELECT e.v, b.hop + 1
            FROM bfs b JOIN {view} e ON e.u = b.part
            WHERE b.hop < 3
        )
        SELECT part AS l_partkey, CAST(MIN(hop) AS INTEGER) AS hops
        FROM bfs
        GROUP BY part
        ORDER BY hops, l_partkey
        """
    )


def q_link_prediction_aa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: top-25 NON-adjacent part
    pairs by Adamic-Adar score (Σ over common neighbors of 1/ln(degree))
    — "these two parts will likely be bought together next", the
    classical common-neighbor heuristic that down-weights promiscuous
    hubs.

    Each wedge's 1/ln(deg(center)) term is snapped to DECIMAL(18,9)
    BEFORE the pair sum (raw double sums are partial-order-dependent —
    the linear_attribution discipline), so pair scores are exact and the
    final ordering total. Existing edges are anti-joined away (predicting
    a present edge is vacuous). Scale: wedge fan-out is Σ deg² over
    centers — bounded here by the ≥2-shared-orders edge threshold; at
    100-TB graph scale cap the center degree (hubs contribute ≈0 per
    wedge anyway: 1/ln(deg) → 0) before the pair join, the standard
    AA-at-scale mitigation. The neighbor relation is materialized once
    for its three consumers.
    """
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint()
    nbrs = edges.select(F.col("u").alias("c"), F.col("v").alias("n")).unionByName(
        edges.select(F.col("v").alias("c"), F.col("u").alias("n"))
    )
    deg = nbrs.groupBy("c").agg(F.count(F.lit(1)).alias("deg"))
    centered = nbrs.join(deg, "c")
    a, b = centered.alias("a"), centered.alias("b")
    wedge_term = (
        F.lit(1.0) / F.log(F.col("a.deg").cast("double"))
    ).cast("decimal(18,9)")
    pairs = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c")) & (F.col("a.n") < F.col("b.n")),
        )
        .select(
            F.col("a.n").alias("u"), F.col("b.n").alias("v"), wedge_term.alias("t")
        )
        .groupBy("u", "v")
        .agg(F.sum("t").alias("aa_raw"), F.count(F.lit(1)).alias("common_neighbors"))
    )
    non_edges = pairs.join(edges, ["u", "v"], "left_anti")
    return (
        non_edges.select(
            "u",
            "v",
            "common_neighbors",
            F.round(F.col("aa_raw").cast("decimal(28,8)"), 6)
            .cast("double")
            .alias("adamic_adar"),
        )
        .orderBy(F.desc("adamic_adar"), "u", "v")
        .limit(25)
    )


LINK_PREDICTION_AA_SQL = f"""
WITH {copurchase_edges_sql("edges")},
nbrs AS (
    SELECT u AS c, v AS n FROM edges
    UNION ALL
    SELECT v AS c, u AS n FROM edges
),
deg AS (SELECT c, COUNT(*) AS deg FROM nbrs GROUP BY c),
pairs AS (
    SELECT a.n AS u, b.n AS v,
           SUM(CAST(1.0 / LN(CAST(dg.deg AS DOUBLE)) AS DECIMAL(18,9))) AS aa_raw,
           COUNT(*) AS common_neighbors
    FROM nbrs a
    JOIN nbrs b ON a.c = b.c AND a.n < b.n
    JOIN deg dg ON dg.c = a.c
    GROUP BY 1, 2
)
SELECT p.u, p.v, p.common_neighbors,
       CAST(ROUND(CAST(aa_raw AS DECIMAL(28,8)), 6) AS DOUBLE) AS adamic_adar
FROM pairs p
LEFT JOIN edges e ON p.u = e.u AND p.v = e.v
WHERE e.u IS NULL
ORDER BY adamic_adar DESC, p.u, p.v
LIMIT 25
"""


def kcore_decompose(edges: DataFrame, k: int) -> DataFrame:
    """The k-core of an undirected edge set ``(u, v)``: iteratively peel
    vertices of degree < k until a fixpoint; returns the surviving
    vertices with their within-core degree. The density filter graph
    curation runs before expensive per-vertex work (a vertex outside the
    2-core can't be in any triangle; outside the k-core it can't be in
    any (k+1)-clique).

    Iteration discipline (the components pattern): each round is
    degree-aggregate → semi-join both endpoints → localCheckpoint (flat
    lineage); the surviving edge count is observed on that checkpoint job
    (``checkpoint_observed``, no count job of its own) and the loop stops
    at the fixpoint — peeling converges in ≤ rounds the
    depth of the degeneracy ordering, and ``KCORE_MAX_ROUNDS`` bounds the
    pathological chain. Rows-only driver check (iterative); fuzzed
    against a single-threaded peeling reference in test_components.
    """
    n_edges = F.count(F.lit(1))
    und, prev_edges = checkpoint_observed(edges.select("u", "v"), n_edges)
    for _ in range(KCORE_MAX_ROUNDS):
        deg = (
            und.select(F.col("u").alias("x"))
            .unionByName(und.select(F.col("v").alias("x")))
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("x")
        # observe the result, never ``deg``: it feeds both semi-joins
        und, n = checkpoint_observed(
            und.join(keep.withColumnRenamed("x", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("x", "v"), "v", "left_semi")
            .select("u", "v"),
            n_edges,
        )
        if n == prev_edges:
            break
        prev_edges = n
    return (
        und.select(F.col("u").alias("vertex"))
        .unionByName(und.select(F.col("v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy(F.desc("core_degree"), "vertex")
    )


def q_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph: parts that survive iterative
    peeling of degree-<3 vertices — the dense backbone the triangle and
    link-prediction analytics actually operate on.

    On the testdata the 3-core holds 200 parts at sf0.001 and 935 at
    sf0.01, but none at sf0.1: there peeling removes every vertex of the
    ≥2-order edge set (:func:`copurchase_edges_sql` in the oracle), so an
    sf0.1 bench of this query times peeling down to an empty result."""
    return kcore_decompose(_copurchase_edges(spark, sf_dir), k=KCORE_K)


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity Q of the brand partition over the co-purchase graph —
    does "same brand" explain the edge structure? Q = Σ_c (e_c/m −
    (d_c/2m)²), assembled EXACTLY: with integer e_c (within-community
    edges), d_c (community degree sums) and m (edges), each community's
    term is (4m·e_c − d_c²)/(4m²) — the sum of integer numerators divides
    once, snapped. The community-quality yardstick the clustering family
    (kmeans, dedup clusters) reports against a labeled partition.

    Scale: edges + their endpoint brands via two broadcast joins of the
    part dim; e_c and d_c are ≤|brands|-row aggregates; Q is arithmetic
    on those rows.
    """
    und = _copurchase_edges(spark, sf_dir).localCheckpoint()
    brands = F.broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    )
    labeled = (
        und.join(brands.withColumnRenamed("p_partkey", "u"), "u")
        .withColumnRenamed("p_brand", "brand_u")
        .join(
            brands.withColumnRenamed("p_partkey", "v").withColumnRenamed(
                "p_brand", "brand_v"
            ),
            "v",
        )
        .localCheckpoint()  # feeds m, e_c, and d_c
    )
    m = labeled.agg(F.count(F.lit(1)).alias("m"))
    e_c = (
        labeled.filter(F.col("brand_u") == F.col("brand_v"))
        .groupBy(F.col("brand_u").alias("brand"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    d_c = (
        labeled.select(F.col("brand_u").alias("brand"))
        .unionByName(labeled.select(F.col("brand_v").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    per_c = d_c.join(e_c, "brand", "left").select(
        "brand",
        F.coalesce(F.col("e_c"), F.lit(0)).alias("e_c"),
        "d_c",
    )
    num = per_c.crossJoin(F.broadcast(m)).agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum(4 * F.col("m") * F.col("e_c") - F.col("d_c") * F.col("d_c")).alias(
            "q_num"
        ),
        F.first("m").alias("m"),
    )
    from candyspark.functions.numeric import snap_round

    return num.select(
        "m",
        "n_communities",
        snap_round(
            F.col("q_num").cast("double")
            / (4.0 * F.col("m").cast("double") * F.col("m").cast("double")),
            6,
        ).alias("modularity"),
    )


GRAPH_MODULARITY_SQL = f"""
WITH {copurchase_edges_sql("e")},
labeled AS (
    SELECT e.u, e.v, pu.p_brand AS brand_u, pv.p_brand AS brand_v
    FROM e JOIN part pu ON e.u = pu.p_partkey
           JOIN part pv ON e.v = pv.p_partkey
),
m AS (SELECT COUNT(*) AS m FROM labeled),
ec AS (
    SELECT brand_u AS brand, COUNT(*) AS e_c
    FROM labeled WHERE brand_u = brand_v GROUP BY 1
),
dc AS (
    SELECT brand, COUNT(*) AS d_c FROM (
        SELECT brand_u AS brand FROM labeled
        UNION ALL SELECT brand_v FROM labeled
    ) GROUP BY 1
),
per_c AS (
    SELECT dc.brand, COALESCE(ec.e_c, 0) AS e_c, dc.d_c
    FROM dc LEFT JOIN ec ON dc.brand = ec.brand
)
SELECT CAST(m AS BIGINT) AS m,
       COUNT(*) AS n_communities,
       CAST(ROUND(CAST(
            CAST(SUM(4 * m * e_c - d_c * d_c) AS DOUBLE)
            / (4.0 * m * m) AS DECIMAL(28,8)), 6) AS DOUBLE) AS modularity
FROM per_c CROSS JOIN m
GROUP BY m
"""


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over the SYMMETRIZED edge list (each
    undirected edge contributes both (deg_u, deg_v) and (deg_v, deg_u) —
    Newman's convention, which makes the two marginals identical).
    Negative r = hubs attach to leaves (disassortative, typical of
    co-occurrence graphs); the one-number structure summary next to the
    triangle and k-core views.

    Exactness: degrees are exact integers, all five power sums are exact
    int64, the correlation formula runs once and snaps. Scale: one degree
    aggregate, two broadcast joins onto the ~|E| edge relation, one
    5-sum aggregate.
    """
    und = _copurchase_edges(spark, sf_dir).localCheckpoint()
    deg = (
        und.select(F.col("u").alias("x"))
        .unionByName(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = F.broadcast(deg.select(F.col("x").alias("u"), F.col("deg").alias("dg_u")))
    dv = F.broadcast(deg.select(F.col("x").alias("v"), F.col("deg").alias("dg_v")))
    pairs = (
        und.join(du, "u")
        .join(dv, "v")
        .select(F.col("dg_u").alias("j"), F.col("dg_v").alias("k"))
    )
    sym = pairs.unionByName(
        pairs.select(F.col("k").alias("j"), F.col("j").alias("k"))
    )
    sums = sym.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("j").alias("sj"),
        F.sum("k").alias("sk"),
        F.sum(F.col("j") * F.col("k")).alias("sjk"),
        F.sum(F.col("j") * F.col("j")).alias("sjj"),
        F.sum(F.col("k") * F.col("k")).alias("skk"),
    )
    from candyspark.functions.numeric import snap_round

    n = F.col("n").cast("double")
    sj = F.col("sj").cast("double")
    sk = F.col("sk").cast("double")
    sjk = F.col("sjk").cast("double")
    sjj = F.col("sjj").cast("double")
    skk = F.col("skk").cast("double")
    return sums.select(
        (F.col("n") / 2).cast("long").alias("m_edges"),
        snap_round(
            (n * sjk - sj * sk)
            / (F.sqrt(n * sjj - sj * sj) * F.sqrt(n * skk - sk * sk)),
            6,
        ).alias("assortativity"),
    )


GRAPH_ASSORTATIVITY_SQL = f"""
WITH {copurchase_edges_sql("e")},
deg AS (
    SELECT x, COUNT(*) AS deg FROM (
        SELECT u AS x FROM e UNION ALL SELECT v FROM e
    ) GROUP BY x
),
pairs AS (
    SELECT du.deg AS j, dv.deg AS k
    FROM e JOIN deg du ON e.u = du.x JOIN deg dv ON e.v = dv.x
),
sym AS (SELECT j, k FROM pairs UNION ALL SELECT k AS j, j AS k FROM pairs),
sums AS (
    SELECT COUNT(*) AS n,
           CAST(SUM(j) AS BIGINT) AS sj, CAST(SUM(k) AS BIGINT) AS sk,
           CAST(SUM(j * k) AS BIGINT) AS sjk,
           CAST(SUM(j * j) AS BIGINT) AS sjj,
           CAST(SUM(k * k) AS BIGINT) AS skk
    FROM sym
)
SELECT CAST(n / 2 AS BIGINT) AS m_edges,
       CAST(ROUND(CAST(
            (n * sjk - CAST(sj AS DOUBLE) * sk)
            / (SQRT(n * sjj - CAST(sj AS DOUBLE) * sj)
               * SQRT(n * skk - CAST(sk AS DOUBLE) * sk))
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS assortativity
FROM sums
"""


def q_hits_customers_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the customer→part purchase bipartite
    graph: a customer is a strong HUB when they buy many authoritative
    parts; a part is a strong AUTHORITY when bought by strong hubs — the
    mutually-recursive two-sided centrality PageRank's single score can't
    express (Kleinberg 1999). 8 rounds; output = top 25 authority parts
    with their scores plus each part's buyer count (so the rank is
    interpretable against raw popularity).

    Iterative (two keyed shuffles per round, lineage checkpointed per
    round — the pagerank discipline, operators/hits.py); determinism under
    repartition and parity with a single-threaded numpy HITS are pinned in
    tests/test_pagerank.py. Round 3: hash-checked against the unrolled
    8-round oracle below — the query's auth output snaps to 6 dp so the
    ~1e-11-relative cross-engine drift of the normalize divisions (decimal
    division in Spark, IEEE-double division in the oracle) is invisible;
    the top-25 boundary is decided on the SNAPPED value with a part-id
    tiebreak, so membership is engine-independent too."""
    from candyspark.operators.hits import hits
    from candyspark.functions.numeric import snap_round

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # ONE edge build (join + distinct + checkpoint) shared by the buyers
    # aggregate AND the HITS loop (hits(prepared=True) skips its internal
    # re-distinct; round-7 — buyers previously re-derived the whole join
    # at consumption)
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    buyers = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("n_buyers"))
    _, auths = hits(edges, rounds=PAGERANK_ROUNDS, prepared=True)
    return (
        auths.join(buyers, "dst")
        .select(
            F.col("dst").alias("part"),
            snap_round(F.col("auth"), 6).alias("auth"),
            "n_buyers",
        )
        .orderBy(F.desc("auth"), "part")
        .limit(25)
    )


def _hits_sql() -> str:
    """Unrolled HITS oracle (the pagerank/LPA unrolling precedent): one
    (auth-sum, hub-sum, hub-normalize) CTE triple per round, mirroring
    operators/hits.py exactly — per-edge contributions snap to
    DECIMAL(24,14) before each sum (order-free in both engines), only the
    hub vector normalizes inside the loop (auth normalizes once at the
    end, the fold the operator documents). The normalize DIVISION is the
    one op the engines do differently (Spark: exact decimal quotient
    rounded half-up at 14 dp; here: IEEE-double quotient snapped through
    DECIMAL(24,14)) — per-value disagreement is ≤1e-14 and the dynamics
    are a contraction, so accumulated drift stays ~1e-11 relative, far
    inside the 6-dp output snap both sides apply before the compare."""
    parts = [
        """e AS (
    SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)""",
        """srcs AS (SELECT DISTINCT src FROM e)""",
        """n0 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM srcs)""",
        """h0 AS (
    SELECT src, CAST(CAST(1.0 / n AS DECIMAL(24,14)) AS DOUBLE) AS hub
    FROM srcs CROSS JOIN n0
)""",
    ]
    for r in range(1, PAGERANK_ROUNDS + 1):
        parts.append(
            f"""a{r} AS MATERIALIZED (
    SELECT e.dst, SUM(CAST(h.hub AS DECIMAL(24,14))) AS auth
    FROM e JOIN h{r - 1} h ON e.src = h.src
    GROUP BY e.dst
)"""
        )
        parts.append(
            f"""hr{r} AS MATERIALIZED (
    SELECT e.src, SUM(CAST(a.auth AS DECIMAL(24,14))) AS hub
    FROM e JOIN a{r} a ON e.dst = a.dst
    GROUP BY e.src
)"""
        )
        parts.append(
            f"""h{r} AS MATERIALIZED (
    SELECT src,
           CAST(CAST(CAST(hub AS DOUBLE)
                / (SELECT CAST(SUM(CAST(hub AS DECIMAL(24,14))) AS DOUBLE)
                   FROM hr{r})
                AS DECIMAL(24,14)) AS DOUBLE) AS hub
    FROM hr{r}
)"""
        )
    return f"""
WITH {','.join(parts)},
afin AS (
    SELECT dst,
           CAST(CAST(CAST(auth AS DOUBLE)
                / (SELECT CAST(SUM(CAST(auth AS DECIMAL(24,14))) AS DOUBLE)
                   FROM a{PAGERANK_ROUNDS})
                AS DECIMAL(24,14)) AS DOUBLE) AS auth
    FROM a{PAGERANK_ROUNDS}
),
buyers AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS n_buyers FROM e GROUP BY dst)
SELECT afin.dst AS part,
       CAST(ROUND(CAST(afin.auth AS DECIMAL(28,8)), 6) AS DOUBLE) AS auth,
       buyers.n_buyers
FROM afin JOIN buyers ON afin.dst = buyers.dst
ORDER BY 2 DESC, 1
LIMIT 25
"""


HITS_CUSTOMERS_PARTS_SQL = _hits_sql()


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the co-purchase graph:
    cc(v) = 2*T(v) / (deg(v)*(deg(v)-1)) — how close each part's
    neighborhood is to a clique, the per-node structure summary that sits
    between the global triangle census (q_triangle_count) and the
    one-number assortativity/modularity row. High-cc parts are
    bundle-cores (their co-purchase partners also co-purchase each other);
    the top-k by cc is the bundle-mining shortlist.

    Scale: REUSES triangles_per_vertex's degree-oriented wedge join
    (O(|E|^1.5) bounded regardless of hub skew) and the shared
    thresholded edge relation; the degree relation is the same ~|E|-row
    aggregate, and the final assembly is a vertex-sized left join
    (triangle-less vertices keep cc = 0 — a LEFT join, not inner, or the
    zero class silently vanishes). Only vertices with deg >= 2 have a
    defined coefficient. cc is a ratio of exact longs, snapped at 6 dp;
    top-30 is TakeOrdered.
    """
    und = _copurchase_edges(spark, sf_dir).localCheckpoint()
    deg = (
        und.select(F.col("u").alias("l_partkey"))
        .unionByName(und.select(F.col("v").alias("l_partkey")))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = triangles_per_vertex(und, "l_partkey")
    cc = (
        F.lit(2.0)
        * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
        / (F.col("deg").cast("double") * (F.col("deg").cast("double") - 1.0))
    )
    from candyspark.functions.numeric import snap_round

    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "l_partkey", "left")
        .select(
            "l_partkey",
            "deg",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            snap_round(cc, 6).alias("clustering_coeff"),
        )
        .orderBy(F.desc("clustering_coeff"), F.desc("deg"), "l_partkey")
        .limit(30)
    )


CLUSTERING_COEFFICIENT_SQL = f"""
WITH {copurchase_edges_sql("e")},
deg AS (SELECT l_partkey, COUNT(*) AS deg
        FROM (SELECT u AS l_partkey FROM e UNION ALL SELECT v FROM e)
        GROUP BY 1),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
tpv AS (SELECT l_partkey, COUNT(*) AS n_triangles
        FROM (SELECT a AS l_partkey FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
        GROUP BY 1)
SELECT deg.l_partkey,
       deg.deg,
       CAST(COALESCE(tpv.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(ROUND(CAST(
           2.0 * CAST(COALESCE(tpv.n_triangles, 0) AS DOUBLE)
           / (CAST(deg.deg AS DOUBLE) * (CAST(deg.deg AS DOUBLE) - 1.0))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS clustering_coeff
FROM deg
LEFT JOIN tpv ON deg.l_partkey = tpv.l_partkey
WHERE deg.deg >= 2
ORDER BY clustering_coeff DESC, deg DESC, deg.l_partkey
LIMIT 30
"""


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the co-purchase graph via synchronous
    label propagation (operators/lpa.py) — the density-clustering answer
    the connectivity census (dedup_clusters / part_reachability) can't
    give: the co-purchase graph is essentially one giant component, and
    LPA splits it into the bundles q_graph_modularity can then score.

    Output: the top-20 communities by size with their min-member label —
    community ids ARE node ids (the smallest member that won the plurality
    votes), so the output is stable across runs and partitionings (LPA
    determinism pinned in tests/test_components.py against an independent
    single-threaded implementation).

    Iterative fixpoint (one edge join + two keyed aggregates per round,
    eager checkpoint, bounded rounds) — rows-only for the driver, like
    pagerank/kcore/hits.
    """
    from candyspark.operators.lpa import label_propagation

    und = _copurchase_edges(spark, sf_dir)
    labels = label_propagation(und, src="u", dst="v")
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(F.col("label").alias("community"), "n_members")
        .orderBy(F.desc("n_members"), "community")
        .limit(20)
    )


def _label_propagation_sql() -> str:
    """Unrolled synchronous-LPA oracle (the kmeans/markov unrolling
    precedent): one vote-count + plurality-argmin CTE pair per round. All
    state is INTEGER (labels, counts) and the plurality pick is a total
    order (cnt DESC, label ASC — operators/lpa's min(struct(-cnt,label))),
    so no float discipline is needed anywhere. The Spark side may break
    early on convergence; converged labels are a FIXED POINT of the vote,
    so the full LPA_ROUNDS-round unroll is value-identical regardless of
    where the driver stopped."""
    parts = [
        copurchase_edges_sql("e0"),
        """und AS (SELECT u AS a, v AS b FROM e0 UNION SELECT v AS a, u AS b FROM e0)""",
        """l0 AS (SELECT DISTINCT a AS node, a AS label FROM und)""",
    ]
    for r in range(1, LPA_ROUNDS + 1):
        parts.append(
            f"""c{r} AS MATERIALIZED (
    SELECT node, label, COUNT(*) AS cnt FROM (
        SELECT und.a AS node, l.label FROM und JOIN l{r - 1} l ON und.b = l.node
        UNION ALL
        SELECT node, label FROM l{r - 1}
    ) GROUP BY node, label
)"""
        )
        parts.append(
            f"""l{r} AS MATERIALIZED (
    SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM c{r}
    ) WHERE rn = 1
)"""
        )
    return f"""
WITH {','.join(parts)}
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
FROM l{LPA_ROUNDS}
GROUP BY label
ORDER BY n_members DESC, community
LIMIT 20
"""


LABEL_PROPAGATION_SQL = _label_propagation_sql()


def _pagerank_parts_sql() -> str:
    """Unrolled power-iteration oracle for q_pagerank_parts: one
    (contribution-sum, rank-update) CTE pair per round. The operator's own
    determinism discipline is what makes this possible — per-edge
    contributions snap to DECIMAL(24,14) before the sum (associative,
    order-free) and each rank snaps to 12 dp — so both engines carry
    bit-identical doubles into every round."""
    parts = [
        copurchase_edges_sql("e0"),
        """und AS (SELECT u AS a, v AS b FROM e0 UNION SELECT v AS a, u AS b FROM e0)""",
        """deg AS (SELECT a AS s, COUNT(*) AS out_deg FROM und GROUP BY a)""",
        """nodes AS (SELECT DISTINCT a AS node FROM und)""",
        """nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)""",
        """r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn)""",
    ]
    for r in range(1, PAGERANK_ROUNDS + 1):
        parts.append(
            f"""m{r} AS MATERIALIZED (
    SELECT und.b AS node,
           SUM(CAST(r.rank / d.out_deg AS DECIMAL(24,14))) AS in_mass
    FROM und
    JOIN r{r - 1} r ON und.a = r.node
    JOIN deg d ON d.s = und.a
    GROUP BY und.b
)"""
        )
        parts.append(
            f"""r{r} AS MATERIALIZED (
    SELECT nodes.node,
           CAST(ROUND(CAST((1.0 - 0.85) / nn.n
                    + 0.85 * COALESCE(CAST(m.in_mass AS DOUBLE), 0.0)
                AS DECIMAL(28,14)), 12) AS DOUBLE) AS rank
    FROM nodes CROSS JOIN nn LEFT JOIN m{r} m ON m.node = nodes.node
)"""
        )
    return f"""
WITH {','.join(parts)}
SELECT node AS part, rank
FROM r{PAGERANK_ROUNDS}
ORDER BY rank DESC, part
LIMIT 50
"""


PAGERANK_PARTS_SQL = _pagerank_parts_sql()


def _kcore_parts_sql() -> str:
    """Unrolled peeling oracle for q_kcore_parts: each round drops edges
    with a sub-k-degree endpoint. Peeling is a FIXED POINT (a stable edge
    set stays stable), so the Spark side's converge-and-break and this
    fixed KCORE_ORACLE_ROUNDS-round unroll agree whenever peeling converges
    within that many rounds at the oracle SF — the fixture converges in ≤3
    (test_components fuzz); 12 is a 4× margin. All state is integer."""
    parts = [
        copurchase_edges_sql("g0"),
    ]
    for r in range(1, KCORE_ORACLE_ROUNDS + 1):
        parts.append(
            f"""k{r} AS MATERIALIZED (
    SELECT x FROM (
        SELECT x, COUNT(*) AS deg FROM (
            SELECT u AS x FROM g{r - 1} UNION ALL SELECT v AS x FROM g{r - 1}
        ) GROUP BY x
    ) WHERE deg >= {KCORE_K}
)"""
        )
        parts.append(
            f"""g{r} AS MATERIALIZED (
    SELECT u, v FROM g{r - 1}
    WHERE u IN (SELECT x FROM k{r}) AND v IN (SELECT x FROM k{r})
)"""
        )
    return f"""
WITH {','.join(parts)}
SELECT vertex, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (SELECT u AS vertex FROM g{KCORE_ORACLE_ROUNDS} UNION ALL SELECT v AS vertex FROM g{KCORE_ORACLE_ROUNDS})
GROUP BY vertex
ORDER BY core_degree DESC, vertex
"""


KCORE_PARTS_SQL = _kcore_parts_sql()


def q_bfs_hop_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS reachability profile from the co-purchase hub: hop-distance
    histogram (4 rounds) from the highest-degree part — the small-world
    read on the basket graph (how much of the catalog is within k
    co-purchase hops of the hub?) that complements the census views:
    dedup_clusters says WHAT is connected, this says HOW FAR. hop = −1
    counts nodes outside the 4-hop ball.

    Seed choice is deterministic (max degree, min partkey tiebreak) and
    all state is integer, so the fixed 4-round unroll below is an exact
    oracle (the kcore/LPA precedent). Scale: per round ONE keyed join of
    the frontier against the checkpointed symmetric edge relation + one
    anti-join against the visited set — the textbook distributed BFS;
    frontier and visited are node-sized. Four rounds cover the small-world
    diameter regime this profile targets; the histogram is ≤6 rows.
    """
    und0 = _copurchase_edges(spark, sf_dir)
    sym = (
        und0.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionByName(und0.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .localCheckpoint(eager=True)
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    seed = (
        deg.orderBy(F.desc("deg"), "a")
        .limit(1)
        .select(F.col("a").alias("node"), F.lit(0).alias("hop"))
    )
    visited = seed.localCheckpoint(eager=True)
    frontier = visited
    for h in range(1, BFS_HOPS + 1):
        nxt = (
            sym.join(frontier.select(F.col("node").alias("a")), "a")
            .select(F.col("b").alias("node"))
            .distinct()
        )
        new = (
            nxt.join(visited, "node", "left_anti")
            .select("node", F.lit(h).alias("hop"))
            .localCheckpoint(eager=True)
        )
        visited = visited.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    hist = visited.groupBy("hop").agg(F.count(F.lit(1)).alias("n_parts"))
    totals = sym.select(F.col("a").alias("node")).distinct().agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    reached = visited.agg(F.count(F.lit(1)).alias("n_reached"))
    unreached = totals.crossJoin(F.broadcast(reached)).select(
        F.lit(-1).alias("hop"),
        (F.col("n_nodes") - F.col("n_reached")).cast("long").alias("n_parts"),
    )
    return (
        hist.select(F.col("hop").cast("int"), F.col("n_parts").cast("long"))
        .unionByName(unreached.select(F.col("hop").cast("int"), "n_parts"))
        .orderBy("hop")
    )


def _bfs_hop_histogram_sql() -> str:
    """Unrolled BFS oracle: per round a frontier-expansion CTE and a
    visited-union CTE; all state integer, seed deterministic."""
    parts = [
        copurchase_edges_sql("e0"),
        """und AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v AS a, u AS b FROM e0)""",
        """deg AS (SELECT a, COUNT(*) AS deg FROM und GROUP BY a)""",
        """v0 AS (SELECT a AS node, 0 AS hop FROM deg ORDER BY deg DESC, a LIMIT 1)""",
        """f0 AS (SELECT node FROM v0)""",
    ]
    for h in range(1, BFS_HOPS + 1):
        parts.append(
            f"""new{h} AS MATERIALIZED (
    SELECT n.node, {h} AS hop FROM (
        SELECT DISTINCT und.b AS node FROM und JOIN f{h - 1} f ON und.a = f.node
    ) n WHERE n.node NOT IN (SELECT node FROM v{h - 1})
)"""
        )
        parts.append(
            f"""v{h} AS MATERIALIZED (SELECT * FROM v{h - 1} UNION ALL SELECT * FROM new{h})"""
        )
        parts.append(f"""f{h} AS (SELECT node FROM new{h})""")
    return f"""
WITH {','.join(parts)}
SELECT CAST(hop AS INTEGER) AS hop, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM v{BFS_HOPS} GROUP BY hop
UNION ALL
SELECT -1 AS hop,
       CAST((SELECT COUNT(DISTINCT a) FROM und) - (SELECT COUNT(*) FROM v{BFS_HOPS}) AS BIGINT)
FROM (VALUES (1))
ORDER BY hop
"""


BFS_HOP_HISTOGRAM_SQL = _bfs_hop_histogram_sql()


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank over the co-purchase graph: the teleport
    vector concentrates on a seed set (the 10 lowest part ids in the
    graph — the deterministic stand-in for "the promoted collection"), so
    rank measures proximity to the seeds, not global centrality — the
    recommendation/related-items form of PageRank (global PR answers
    "what is central"; PPR answers "what is central NEAR these"). 8
    rounds, top 50 by (rank desc, part).

    Numerics: the ENTIRE iteration is int64 — ranks live at scale 10¹²,
    per-edge contributions at scale 10¹⁴ via half-up integer division
    ((2a+b) DIV 2b), and the damping update is 85·mass at scale-shift
    10⁴, again half-up. Zero floats inside the loop means zero cross-
    engine tie hazard: the global pagerank's DECIMAL(24,14) double-cast
    snap was measured to flip the 12th digit on 2/50 nodes at sf0.01
    when the teleport term is sparse (ties sit ON the cast boundary);
    integer state makes the 8-round unrolled DuckDB oracle bit-exact BY
    CONSTRUCTION, not empirically. The one float op is the final
    rank = r12/10¹² display conversion.

    Scale: the pagerank kernel (operators/pagerank.power_iterate) — the
    node-grain (node, r12) state broadcast into the edge join, ONE keyed
    shuffle of the contribution sums per round, degree pre-joined outside
    the loop, per-round eager localCheckpoint truncating lineage; int64
    headroom is ample (contribution sums ≤ 10¹⁴, damping product
    ≤ 1.7·10¹⁶)."""
    from candyspark.operators.components import symmetrize
    from candyspark.operators.pagerank import power_iterate

    edges = symmetrize(_copurchase_edges(spark, sf_dir), "u", "v")
    e = edges.select(F.col("a").alias("s"), F.col("b").alias("t"))
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("out_deg"))
    ew = e.join(deg, "s").localCheckpoint(eager=True)
    nodes = e.select(F.col("s").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    seeds = nodes.orderBy("node").limit(10).localCheckpoint(eager=True)
    ns = seeds.count()
    if ns == 0:
        return spark.createDataFrame([], "part bigint, rank double")
    scale = 10**12
    init12 = (2 * scale + ns) // (2 * ns)  # round(1/ns at 12dp), half-up
    base12 = (2 * 15 * 10**10 + ns) // (2 * ns)  # round(0.15/ns at 12dp)
    nodes_p = (
        nodes.join(seeds.withColumn("is_seed", F.lit(1)), "node", "left")
        .select("node", F.coalesce(F.col("is_seed"), F.lit(0)).alias("is_seed"))
        .localCheckpoint(eager=True)
    )
    ranks = power_iterate(
        ew,
        nodes_p,
        nodes_p.select(
            "node",
            F.when(F.col("is_seed") == 1, F.lit(init12))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("r12"),
        ),
        F.expr("(r12 * 200 + out_deg) div (2 * out_deg)"),
        (
            F.when(F.col("is_seed") == 1, F.lit(base12)).otherwise(F.lit(0))
            + F.expr("(85 * coalesce(mass, 0L) * 2 + 10000) div 20000")
        ).cast("long").alias("r12"),
        PAGERANK_ROUNDS,
    )
    return (
        ranks.select(
            F.col("node").alias("part"),
            (F.col("r12").cast("double") / F.lit(float(scale))).alias("rank"),
        )
        .orderBy(F.desc("rank"), "part")
        .limit(50)
    )


def _personalized_pagerank_sql() -> str:
    """Unrolled integer-state PPR oracle: ranks at scale 10^12, half-up
    integer division mirrored as (2a+b)//(2b) — every round's state is
    int64, so the chain is bit-exact with the Spark loop by construction."""
    parts = [
        copurchase_edges_sql("e0"),
        """und AS (SELECT u AS a, v AS b FROM e0 UNION SELECT v AS a, u AS b FROM e0)""",
        """deg AS (SELECT a AS s, CAST(COUNT(*) AS BIGINT) AS out_deg FROM und GROUP BY a)""",
        """nodes AS (SELECT DISTINCT a AS node FROM und)""",
        """seeds AS (SELECT node FROM nodes ORDER BY node LIMIT 10)""",
        """ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM seeds)""",
        """np AS MATERIALIZED (
    SELECT nodes.node,
           CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed,
           (2 * 1000000000000 + ns.m) // (2 * ns.m) AS init12,
           (2 * 150000000000 + ns.m) // (2 * ns.m) AS base12
    FROM nodes CROSS JOIN ns LEFT JOIN seeds s ON s.node = nodes.node
)""",
        """r0 AS (SELECT node, CASE WHEN is_seed = 1 THEN init12 ELSE 0 END AS r12 FROM np)""",
    ]
    for r in range(1, PAGERANK_ROUNDS + 1):
        parts.append(
            f"""m{r} AS MATERIALIZED (
    SELECT und.b AS node,
           SUM((rr.r12 * 200 + d.out_deg) // (2 * d.out_deg)) AS m14
    FROM und
    JOIN r{r - 1} rr ON und.a = rr.node
    JOIN deg d ON d.s = und.a
    GROUP BY und.b
)"""
        )
        parts.append(
            f"""r{r} AS MATERIALIZED (
    SELECT np.node,
           CAST(CASE WHEN np.is_seed = 1 THEN np.base12 ELSE 0 END
                + (85 * COALESCE(m.m14, 0) * 2 + 10000) // 20000 AS BIGINT)
               AS r12
    FROM np LEFT JOIN m{r} m ON m.node = np.node
)"""
        )
    return f"""
WITH {','.join(parts)}
SELECT node AS part, CAST(r12 AS DOUBLE) / 1000000000000.0 AS rank
FROM r{PAGERANK_ROUNDS}
ORDER BY rank DESC, part
LIMIT 50
"""


PERSONALIZED_PAGERANK_SQL = _personalized_pagerank_sql()


# ---------------------------------------------------------------------------
# Katz centrality (exact-decimal unrolled iteration)
# ---------------------------------------------------------------------------

_KATZ_ROUNDS = 6  # alpha = 1/200, hard-coded in the div-400 update


def q_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality of the part co-purchase graph: x = sum_k alpha^k
    A^k 1 - influence that counts ALL walks (attenuated by length), where
    pagerank_parts normalizes per-node and kcore/rich_club read raw
    degree structure. Katz is the member that rewards being near hubs
    without being divided by their out-degree - the "borrowed
    importance" read.

    The WHOLE iteration x_{k+1} = 1 + alpha * A x_k is INT64-exact at
    scale 10^12 (the personalized_pagerank discipline): alpha = 1/200,
    so each round is X' = 10^12 + (2*sum_nbr X + 200) div 400 - half-up
    integer division, bit-identical in both engines BY CONSTRUCTION.
    A decimal formulation was measured flipping the 12th digit on ~70%
    of nodes: alpha*X products tie at exactly .5 of the last kept digit
    (alpha = 5e-3 guarantees trailing-5 patterns) and Spark's HALF_UP
    cast disagrees with DuckDB's tie rule on every one. Overflow bound:
    max_deg * x_max * 10^12 must stay under 2^63 (max_deg ~3e6 at
    x ~ 3) - far past this graph at any SF; past it, widen to
    DECIMAL(38,0)/HUGEINT. _KATZ_ROUNDS = 6 with alpha*max_deg < 1
    leaves the truncated tail under the 12-dp floor.

    At 100 TB: the deduped edge set reduces per order (bounded
    pairs-per-order), is checkpointed once, and each round is the
    pagerank kernel (operators/pagerank.power_iterate): the node-grain
    score broadcast into the edge join, one keyed aggregate.
    """
    # round-7: the edge set comes from the _copurchase_edges collect_set
    # discipline at min_orders=1 (one map-side-combined shuffle + in-map
    # pair generation + packed-key distinct) — identical distinct-pair
    # relation to the previous lineitem self-join + distinct, minus the
    # self-join's two extra fact shuffles and sorts (the round-5 measured
    # 122 s → 45 s rewrite, applied to this family's last two holdouts).
    und = _copurchase_edges(spark, sf_dir, min_orders=1).select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )
    edges = (
        und.unionByName(
            und.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .localCheckpoint()  # every Katz round reuses the directed edge set
    )
    # AQE coalesces the byte-small distinct output to 1-2 partitions, which
    # would serialize all 6 rounds' join+aggregate on 1-2 cores (measured:
    # rounds 2-6 doubled to ~1.8 s each). fan_out is conditional — a no-op
    # once the edge relation naturally exceeds defaultParallelism — and the
    # re-checkpoint pins the round-robin layout so the rounds reuse it
    # instead of re-shuffling per round.
    from candyspark.operators.pagerank import power_iterate
    from candyspark.sources.readers import fan_out

    fanned = fan_out(edges)
    if fanned is not edges:
        edges = fanned.localCheckpoint()
    # node set checkpointed ONCE — the per-round left join below otherwise
    # re-runs this distinct every round (round-7)
    nodes = edges.select(F.col("a").alias("node")).distinct().localCheckpoint()
    one12 = 10**12
    # x_a' sums x over a's neighbours b: the walk runs b -> a
    x = power_iterate(
        edges.select(F.col("b").alias("s"), F.col("a").alias("t")),
        nodes,
        nodes.select("node", F.lit(one12).cast("long").alias("x12")),
        F.col("x12"),
        (F.lit(one12) + F.expr("(coalesce(mass, 0L) * 2 + 200) div 400"))
        .cast("long")
        .alias("x12"),
        _KATZ_ROUNDS,
    )
    w = Window.orderBy(F.desc("x12"), "node")
    return (
        x.select(
            F.col("node").alias("partkey"),
            (F.col("x12").cast("double") / F.lit(1e12)).alias("katz"),
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= 25)
    )


def _katz_sql_round(k: int) -> str:
    return f"""
x{k} AS (
    SELECT n.v,
           CAST(1000000000000 + (COALESCE(c.nbr, 0) * 2 + 200) // 400
               AS BIGINT) AS x12
    FROM nodes n
    LEFT JOIN (
        SELECT e.a, CAST(SUM(x.x12) AS BIGINT) AS nbr
        FROM edges e JOIN x{k - 1} x ON e.b = x.v
        GROUP BY e.a
    ) c ON n.v = c.a
)"""


KATZ_CENTRALITY_SQL = (
    """
WITH und AS (
    SELECT DISTINCT i.l_partkey AS a, j.l_partkey AS b
    FROM lineitem i JOIN lineitem j
      ON i.l_orderkey = j.l_orderkey AND i.l_partkey < j.l_partkey
),
edges AS (
    SELECT a, b FROM und
    UNION ALL
    SELECT b AS a, a AS b FROM und
),
nodes AS (SELECT DISTINCT a AS v FROM edges),
x0 AS (SELECT v, CAST(1000000000000 AS BIGINT) AS x12 FROM nodes),"""
    + ",".join(_katz_sql_round(k) for k in range(1, _KATZ_ROUNDS + 1))
    + f"""
SELECT v AS partkey,
       CAST(x12 AS DOUBLE) / 1e12 AS katz,
       CAST(ROW_NUMBER() OVER (ORDER BY x12 DESC, v) AS BIGINT) AS rank
FROM x{_KATZ_ROUNDS}
QUALIFY rank <= 25
"""
)
