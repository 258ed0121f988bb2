"""Query plans: named, oracle-checked DataFrame programs.

Each plan module exposes ``REGISTRY: dict[str, QuerySpec]``. A ``QuerySpec``
pairs a PySpark query (``(spark, sf_dir) -> DataFrame``) with the equivalent
ANSI SQL for the DuckDB oracle (``None`` for non-SQL-expressible operators —
the driver then records a weaker rows-only check; SURVEY.md §5.2).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One oracle-checked query: Spark implementation + DuckDB oracle SQL."""

    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None => not SQL-expressible; rows-only check


#: Names promoted to the front of the merged registry, in this order. The
#: driver's correctness gate evaluates only the first 50 registry entries,
#: so this one list is that window: a round rotates its new and materially
#: changed queries in by editing it (and drops as many), and the gate then
#: certifies code no earlier round certified. Every other name follows in
#: module order.
FRONT = [
    "greedy_allocation",
    "ses_forecast",
    "holt_forecast",
    "kalman_local_level",
    "hmm_regime_filter",
    "cochran_armitage",
    "jonckheere_terpstra",
    "mantel_haenszel",
    "kendall_w",
    "ewma_volatility",
    "ngram_novelty",
    "lsh_band_fpr",
    "idempotency_audit",
    "neyman_allocation",
    "als_rank1",
    "triangle_count",
    "pagerank_parts",
    "anderson_darling",
    "bucketed_join_no_shuffle",
    "robust_stats_approx",
    "quantile_normalize_approx",
    "distribution_distance_approx",
    "streaming_full_outer_join",
    "multimodal_phash_dedup",
    "cramer_von_mises",
    "vif_collinearity",
    "breusch_pagan",
    "partitioned_scan_pruning",
    "cdc_apply",
    "quantile_regression",
    "tukey_hsd",
    "nested_f_test",
    "approx_aggregates",
    "randomization_inference",
    "cross_source_near_dup",
    "cox_ph",
    "distance_correlation",
    "fleiss_kappa",
    "friedman_test",
    "mood_median_test",
    "tost_equivalence",
    "dunn_posthoc",
    "bayesian_ab_beta",
    "average_precision_eval",
    "dickey_fuller",
    "kpss_test",
    "bradley_terry",
    "abc_xyz",
    "newsvendor_stock",
    "katz_centrality",
]


def collect_registry() -> dict[str, QuerySpec]:
    """Union of all plan modules' registries (stable names across rounds),
    with FRONT promoted to the front."""
    from candyspark.plans import (
        analytics,
        behavior,
        candy,
        corpus,
        extensions,
        geo,
        graph,
        inventory,
        ml,
        mutation,
        outliers,
        profiling,
        quality,
        relational,
        retrieval,
        retrieval2,
        sequences,
        sketches,
        stats2,
        stats3,
        stats4,
        statespace,
        temporal,
        tpch,
        tpch2,
    )

    merged: dict[str, QuerySpec] = {}
    for mod in (
        relational,
        candy,
        extensions,
        temporal,
        analytics,
        profiling,
        corpus,
        tpch,
        tpch2,
        mutation,
        geo,
        inventory,
        ml,
        quality,
        graph,
        retrieval,
        retrieval2,
        sketches,
        outliers,
        behavior,
        sequences,
        stats2,
        stats3,
        stats4,
        statespace,
    ):
        overlap = merged.keys() & mod.REGISTRY.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {sorted(overlap)}")
        merged.update(mod.REGISTRY)
    front = {n: merged[n] for n in FRONT if n in merged}
    return front | {n: s for n, s in merged.items() if n not in front}
