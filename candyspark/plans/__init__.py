"""Query plans: named, oracle-checked DataFrame programs.

The registry is derived from the plan modules by one naming rule:

- a module-level function ``q_<name>`` defined in a plan module is the
  query ``<name>``, a PySpark program ``(spark, sf_dir) -> DataFrame``;
- its oracle is that module's ``<NAME>_SQL`` constant, the equivalent ANSI
  SQL for DuckDB;
- ``<NAME>_SQL = None`` declares a rows-only query (not SQL-expressible; the
  driver then records a weaker rows-only check, SURVEY.md §5.2);
- a ``q_`` function without that constant makes ``collect_registry()``
  raise, so a missing oracle fails loudly instead of going rows-only.

A ``QuerySpec`` pairs the two.
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass
from types import ModuleType

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
#: certifies code no earlier round certified. Every other name follows by
#: module name, then in definition order.
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
    """Every plan module's queries by the naming rule (stable names across
    rounds), with FRONT promoted to the front."""
    merged: dict[str, QuerySpec] = {}
    # imported here, not at module load: tracers patch the readers first
    for info in pkgutil.iter_modules(__path__):
        mod = importlib.import_module(f"{__name__}.{info.name}")
        for name, spec in _module_queries(mod).items():
            if name in merged:
                raise ValueError(f"duplicate query name {name!r} in {mod.__name__}")
            merged[name] = spec
    front = {n: merged[n] for n in FRONT if n in merged}
    return front | {n: s for n, s in merged.items() if n not in front}


def _module_queries(mod: ModuleType) -> dict[str, QuerySpec]:
    """One module's ``q_<name>`` functions, each with its ``<NAME>_SQL``."""
    out: dict[str, QuerySpec] = {}
    for attr, fn in vars(mod).items():
        if not (attr.startswith("q_") and inspect.isfunction(fn)):
            continue
        if fn.__module__ != mod.__name__:  # imported from a sibling plan module
            continue
        name = attr[2:]
        const = f"{name.upper()}_SQL"
        if const not in vars(mod):
            raise ValueError(
                f"{mod.__name__}.{attr} has no {const} (set it to None for rows-only)"
            )
        out[name] = QuerySpec(fn, vars(mod)[const])
    return out
