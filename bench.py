#!/usr/bin/env python3
"""Benchmark the headline queries (driver contract: one JSON line).

Runs each headline query at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS], executing the full plan through a noop sink (no
driver collect — measures the distributed plan, not result transfer).
Prints: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from candyspark.plans import collect_registry  # noqa: E402
from candyspark.session import get_spark  # noqa: E402

#: Display/ordering priority ONLY — the benched set is the registry minus
#: its streaming drains (see headline_names). These names lead the
#: artifacts because the compact last line keeps only what fits the
#: driver's TAIL_BUDGET window: at most ~69 names at the header's width,
#: so only a head this long can ever be shown; everything else follows
#: sorted. A name here that leaves the registry is ignored, never an error.
PRIORITY = [
    "daily_summary",
    "pricing_summary",
    "order_totals",
    "region_revenue",
    "window_running_sum",
    "prefix_allocation",
    "greedy_allocation",
    "text_stats",
    "dedup_minhash",
    "dedup_exact",
    "similarity_bruteforce",
    "similarity_ivf",
    "events_sliding",
    "asof_click_attribution",
    "range_join_error_window",
    "forecast_linear",
    "corpus_clean",
    "cube_qty",
    "chunk_documents",
    "pii_scrub",
    "shipping_priority",
    "local_trade_share",
    "term_frequencies",
    "order_priority_check",
    "returned_item_losses",
    "exclusive_return_suppliers",
    "disjunctive_revenue",
    "merge_upsert",
    "snapshot_diff",
    "scd2_history",
    "quality_report",
    "stats_moments",
    "grouping_sets",
    "kmeans_clusters",
    "event_funnel",
    "retention_cohorts",
    "latest_per_key",
    "gap_fill_daily",
    "dedup_clusters",
    "tfidf_top_terms",
    "contamination_check",
    "histogram_prices",
    "ohlc_bars",
    "hll_sketches",
    "weighted_sample",
    "zscore_outliers",
    "discount_revenue_lift",
    "pack_sequences",
    "trend_per_type",
    "rolling_weekly_value",
    "bitmap_distinct",
    "ordered_listagg",
    "basket_pairs",
    "event_transitions",
    "peak_concurrency",
    "rfm_segments",
    "robust_stats",
    "repetition_signals",
    "synthetic_source",
    "fuzzy_part_pairs",
    "chi2_independence",
    "corpus_pipeline",
    "salted_aggregation",
    "histogram_equidepth",
    "ewma_user_value",
    "map_functions",
    "label_centroids",
    "nation_revenue_share",
    "udaf_median_price",
    "triangle_count",
]


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


#: the driver records only the last ~2000 chars of stdout; the FINAL line
#: must be one complete JSON object inside that window or the round's
#: BENCH_r{N}.json ends up "parsed": null (round-1 lesson)
TAIL_BUDGET = 1900


def streaming_names(registry: dict) -> list[str]:
    """The registry's streaming drains (the ``streaming_`` prefix, as the
    oracle parity test reads it). They are correctness-checked against
    batch oracles but kept out of the headline medians: their cost is
    source landing + state flush, a different cost class, timed in their
    own section so regressions there stay visible."""
    return sorted(n for n in registry if n.startswith("streaming_"))


def headline_names(registry: dict) -> list[str]:
    """Every registry name except the streaming drains, PRIORITY names
    first, the rest sorted — a new query is benched the moment it is
    registered, and n_queries reconciles as n_registry - n_excluded."""
    streaming = set(streaming_names(registry))
    prio = [n for n in PRIORITY if n in registry and n not in streaming]
    return prio + sorted(set(registry) - streaming - set(prio))


def main() -> None:
    loadavg_at_start = [round(x, 2) for x in os.getloadavg()]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    # this host swings ±30-100% between identical runs (BASELINE.md):
    # report per-query MEDIANS. Two passes are UNCONDITIONAL (a single-pass
    # artifact is a noisy ceiling, not a median — the round-2 lesson); the
    # budget only gates the third.
    budget = float(os.environ.get("BENCH_BUDGET_SEC", "1500"))
    max_passes = int(os.environ.get("BENCH_REPEATS", "3"))
    spark = get_spark(app_name="candyspark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = collect_registry()
    names = headline_names(registry)

    # Warm up the JVM/codegen path once so per-query times measure the plans.
    registry[names[0]].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    def run_one(name: str) -> float:
        t0 = time.perf_counter()
        registry[name].fn(spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        dt = time.perf_counter() - t0
        samples[name].append(dt)
        return dt

    t_start = time.perf_counter()
    samples: dict[str, list[float]] = {n: [] for n in names}
    passes = 0
    for _ in range(max_passes):
        pass_cost = sum(map(run_one, names))
        passes += 1
        if passes >= 2 and time.perf_counter() - t_start + pass_cost > budget:
            break  # a further full pass would blow the time budget

    # Heavy-tail third sample (round-3 verdict item 2): a loaded host
    # window can poison BOTH full passes of a slow query (observed:
    # dedup_minhash recorded 5.54 s vs a 2.68 s standalone median). The
    # slowest queries get one more reading so the median has an
    # out-of-window vote; per-query MIN is recorded for all.
    tail = [n for n in names if _median(samples[n]) >= 1.0]
    tail.sort(key=lambda n: _median(samples[n]), reverse=True)
    tail_sampled = 0
    for name in tail[:60]:
        est = min(samples[name]) * 1.5
        if time.perf_counter() - t_start + est > budget:
            break
        run_one(name)
        tail_sampled += 1

    # streaming section: min-of-2 drains each (round-4 verdict item 3 — a
    # single reading produced r04's only phantom regression,
    # streaming_tumbling x1.96 while its siblings were flat; the drains are
    # fixed-cost landing+flush, so the MIN is the honest reading and the
    # second drain costs ~30 s total)
    streaming: dict[str, float] = {}
    for name in streaming_names(registry):
        drains = []
        for _ in range(2):
            t0 = time.perf_counter()
            registry[name].fn(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            drains.append(time.perf_counter() - t0)
        streaming[name] = round(min(drains), 3)

    times = {n: round(_median(samples[n]), 3) for n in names}
    mins = {n: round(min(samples[n]), 3) for n in names}
    total = round(sum(times.values()), 3)
    total_min = round(sum(mins.values()), 3)
    result = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        # per-query best-of-passes: the host-load-free floor — when a
        # median and its min disagree by >1.5x, trust the min (this
        # host's documented +/-30-100% load swings; round-3 verdict)
        "queries_min": mins,
        "sf": sf,
        # the headline set grows every round (BASELINE.md records each
        # step); the per-query (median-of-passes) mean is the
        # suite-size-normalized number to compare across rounds.
        "n_queries": len(times),
        "n_registry": len(registry),
        "n_excluded": len(registry) - len(names),
        "sec_per_query": round(total / len(times), 3),
        "sec_per_query_min": round(total_min / len(times), 3),
        "passes": passes,
        "tail_resampled": tail_sampled,
        # host-load conditions the run was taken under (round-5 verdict
        # item 8: the artifact itself must carry what BASELINE.md's prose
        # documents — a reading taken in a loaded window isn't comparable
        # to a calm one). 1/5/15-min loadavgs at suite start; this host
        # has 32 cores, so ≳32 means another heavy process shared the run.
        "loadavg_at_start": loadavg_at_start,
        "loadavg_at_end": [round(x, 2) for x in os.getloadavg()],
        "streaming": streaming,
        "streaming_sec": round(sum(streaming.values()), 3),
    }
    # full per-query result: first line (humans, logs) + file artifact.
    # BENCH_OUT defaults to BENCH_full_c{cpus}.json at the repo root
    # (gitignored — only the per-round BENCH_full_r{N}.json snapshots are
    # committed) so EVERY bench run leaves the complete per-query record on
    # disk for cross-round regression diffs without dirtying the working
    # tree. The cpu count is in the name because the driver benches at TWO
    # core counts back to back — a shared default path made the 8-core run
    # clobber the 32-core full record (round-6 verdict item 4).
    print(json.dumps(result))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    out_path = os.environ.get(
        "BENCH_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), f"BENCH_full_c{cpus}.json"
        ),
    )
    if out_path:
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)

    # LAST line: the same object with "queries" truncated (in HEADLINE
    # priority order) so one complete parseable JSON line fits the
    # driver's tail window. The per-drain "streaming" dict is dropped from
    # THIS LINE ONLY (streaming_sec stays; the full dict is in the file
    # artifact and on the full-result line above): its ~400 chars pushed
    # the visible query window from 49 entries down to 46 in round 6,
    # producing three phantom "dropped_from_bench" rows (round-6 verdict
    # item 2). Without it ≥60 priority queries fit the 1900-char window.
    head = {
        k: v
        for k, v in result.items()
        if k not in ("queries", "queries_min", "streaming")
    }
    shown: dict[str, float] = {}
    used = len(json.dumps({**head, "queries_omitted": len(times)})) + len(
        '"queries":{},'
    )
    for name in names:
        entry_len = len(f'"{name}":{times[name]},')
        if used + entry_len > TAIL_BUDGET:
            break
        shown[name] = times[name]
        used += entry_len
    compact = {**head, "queries": shown, "queries_omitted": len(times) - len(shown)}
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= TAIL_BUDGET + 100, len(line)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
