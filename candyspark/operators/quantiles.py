"""Distributed EXACT multi-quantile extraction — the scale-true form of
``F.percentile`` for single-group quantiles.

Spark's exact ``percentile`` is a holistic aggregate: every partial ships its
full value buffer and the final merge concentrates ALL values in one task —
measured at 5-8 s per query at sf0.1 (robust_stats, distribution_distance)
and structurally unable to scale (the buffer IS the data). This operator
computes the same interpolated quantiles (the (n−1)·p convention, matching
both Spark's percentile and DuckDB's quantile_cont) by ORDER-STATISTIC
EXTRACTION instead:

1. bucket every value by a VALUE-MONOTONE coarse key (equi-width over the
   per-group min/max — bucket order extends value order, the same prefix
   trick as the distributed global rank in triplet_sampling);
2. count per (group, bucket) — a tiny map-side-combined aggregate;
3. locate each needed integer rank's bucket against the cumulative bucket
   offsets — only ~2×|probs| ranks exist per group;
4. filter the fact rows to the NEEDED buckets only (a scan-stage predicate —
   for 101 quantiles that is ≤202 buckets of data, a vanishing fraction at
   scale), pick each needed local rank out of the bucket's sorted value
   array (one bounded (group, bucket) aggregate — no task ever holds more
   than one bucket, the same bound the v2 window had);
5. interpolate.

No step ever holds more than one (group, bucket) of values in one task.

EAGER CONTRACT (since the round-6 v2 rewrite): ``exact_quantiles`` /
``exact_quantiles_grouped`` are EXECUTORS, not lazy plan builders — calling
one runs the two fact passes plus the metadata collects immediately and
returns a LITERAL snapshot frame. Re-executing the returned DataFrame does
not recompute from the fact, and plan-only tooling (explain, plan budgets)
pays full execution at call time. Compose them as computed dimensions, not
as lazy plans.

Round-7 (v3) job-count rewrite, building on v2's driver-located ranks:
- ONE literal `need` relation (group, bucket, local-rank array, rank array)
  replaces v2's two (located + needed_buckets) — one createDataFrame, one
  broadcast build fewer per call;
- the extraction pass is a bounded (group, bucket) AGGREGATE over the
  needed rows (sorted value array → positional picks) instead of v2's
  row_number window + second broadcast join — same rows through the same
  single exchange, fewer plan nodes, one broadcast fewer (guide §2.4);
- callers can hand in pre-collected ``bounds_rows`` (plain Python rows), so
  multi-extraction consumers (robust_stats' median+MAD) collect bounds ONCE
  and derive the second call's bounds in driver arithmetic — v2 spent a
  localCheckpoint plus two extra collect round-trips on the same bytes
  (the round-6 verdict's #1 regression);
- ``*_rows`` twins return the plain Python result rows so consumers that
  post-process driver-sized results (pivots, per-group stats dims) build
  ONE literal frame instead of chaining Spark ops over literals — the
  round-6 profile showed ~0.9 s of AQE orchestration in robust_stats' final
  literal-joins assembly alone;
- every action is job-labeled (guide §1.5).

Per-value results are bit-identical to v2/v1 (pinned by the numpy /
percentile parity and oracle-hash tests): rank location and interpolation
are exact integer / IEEE-double arithmetic reproduced op-for-op, and the
k-th smallest value of a bucket is the same whether picked by row_number
or out of the bucket's sorted array.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from candyspark.session import job_description


def _ranks_for(n: int, p: float, discrete: bool) -> tuple[int, int, float]:
    """(k_lo, k_hi, h) for one group of exact size n at prob p — the same
    IEEE-double sequence the v1 Spark expressions evaluated (Python floats
    ARE doubles; `(n-1)*p`, floor, ceil match Spark's long/double ops).

    Continuous (default): the (n−1)·p interpolation convention of Spark's
    ``percentile`` / DuckDB ``quantile_cont``. Discrete: the smallest value
    whose cume_dist ≥ p — 0-based rank ceil(n·p)−1 computed in DOUBLE,
    which matches Spark's ``percentile_disc`` exactly (k_lo = k_hi, so the
    interpolation term vanishes and an ACTUAL data value crosses the
    engine boundary). CAVEAT: at float-boundary probs the two reference
    engines themselves disagree — e.g. n=100, p=0.07: double math gives
    ceil(7.000000000000001)=8 (Spark and this extractor) while DuckDB's
    PERCENTILE_DISC returns the 7th value — so pair discrete mode with a
    DuckDB oracle only at probs whose n·p stays float-exact (the
    registry's 0.05/0.95 uses are verified at both driver SFs)."""
    if discrete:
        k = max(math.ceil(float(n) * p) - 1, 0)
        k = min(k, n - 1)
        return k, k, float(k)
    h = float(n - 1) * p
    k_lo = math.floor(h)
    k_hi = min(k_lo + 1, n - 1)
    return int(k_lo), int(k_hi), h


def _bucket_expr(n_buckets: int):
    """Value-monotone bucket key over (v, lo, hi) columns; the hi row lands
    in the last bucket. Identical expression to v1/v2."""
    return (
        F.least(
            F.floor(
                (F.col("v") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / n_buckets + 1e-300)
            ),
            F.lit(n_buckets - 1),
        )
        .cast("int")
        .alias("b")
    )


def _extract(
    spark: SparkSession,
    with_b: DataFrame,
    grp_field: T.StructField,
    bounds_rows: list,
    probs: list[float],
    discrete: bool,
    label: str = "",
) -> tuple[list, dict]:
    """Shared driver-located extraction: count per (group, bucket), locate
    the ≤2|probs| needed ranks per group in Python, run ONE needed-bucket
    extraction pass, and return (bounds_rows sans-null-groups, {(grp, k): v}).

    ``with_b`` must be the bucketed fact: columns (grp, v, b). The counts
    and hit values collected here are the very relations v1 broadcast —
    driver-resident either way; ≤ groups × occupied-buckets rows."""
    with job_description(spark, f"exact_quantiles{label}: bucket counts"):
        counts = (
            with_b.groupBy("grp", "b").agg(F.count(F.lit(1)).alias("cnt")).collect()
        )
    by_grp: dict = {}
    for r in counts:
        by_grp.setdefault(r["grp"], []).append((r["b"], r["cnt"]))

    # per group: cumulative offsets -> bucket + local rank for each needed k
    need_rows: dict = {}  # (grp, b) -> (sorted [local_rank], matching [k])
    for g, n in ((r["grp"], r["n"]) for r in bounds_rows):
        if g is None or g not in by_grp:
            # null groups never match the grp equi-joins in v1; groups with
            # no non-null values have no counts — both produce no output
            continue
        ks = set()
        for p in probs:
            k_lo, k_hi, _ = _ranks_for(n, p, discrete)
            ks.add(k_lo)
            ks.add(k_hi)
        buckets = sorted(by_grp[g])
        off = 0
        it = iter(buckets)
        b, cnt = next(it)
        for k in sorted(ks):
            while not (off <= k < off + cnt):
                off += cnt
                try:
                    b, cnt = next(it)
                except StopIteration:
                    # caller-supplied bounds contract violation: n overstates
                    # the actual row count, so rank k has no bucket to live in
                    raise ValueError(
                        f"exact_quantiles: group {g!r} declares n={n} but the "
                        f"fact holds only {off} rows — caller-supplied bounds "
                        "must carry the exact non-null count"
                    ) from None
            lrs, kk = need_rows.setdefault((g, b), ([], []))
            lrs.append(k - off)
            kk.append(k)

    loc_schema = T.StructType(
        [
            grp_field,
            T.StructField("b", T.IntegerType(), False),
            T.StructField("lrs", T.ArrayType(T.IntegerType(), False), False),
            T.StructField("ks", T.ArrayType(T.LongType(), False), False),
        ]
    )
    need = spark.createDataFrame(
        [
            (g, int(b), [int(x) for x in lrs], [int(x) for x in kk])
            for (g, b), (lrs, kk) in sorted(need_rows.items(), key=lambda t: str(t[0]))
        ],
        loc_schema,
    )
    # ONE bounded aggregate per needed (group, bucket): the sorted value
    # array's positional picks are exactly the row_number-located values
    # (duplicates tie to the same v either way). lrs/ks ride the broadcast
    # join and are constant within the group, so first() is deterministic.
    picked = F.zip_with(
        "ks",
        F.transform(F.col("lrs"), lambda lr: F.get(F.col("vs"), lr)),
        lambda k, v: F.struct(k.alias("k"), v.alias("v")),
    )
    with job_description(spark, f"exact_quantiles{label}: needed-bucket extraction"):
        hits = (
            with_b.join(F.broadcast(need), ["grp", "b"])
            .groupBy("grp", "b")
            .agg(
                F.array_sort(F.collect_list("v")).alias("vs"),
                F.first("lrs").alias("lrs"),
                F.first("ks").alias("ks"),
            )
            .select("grp", F.explode(picked).alias("kv"))
            .select("grp", "kv.k", "kv.v")
            .collect()
        )
    kv = {(r["grp"], r["k"]): r["v"] for r in hits}
    return [r for r in bounds_rows if r["grp"] is not None and r["grp"] in by_grp], kv


def _interp_rows(bounds_rows: list, kv: dict, probs: list[float], discrete: bool) -> list:
    """(grp, p, value) via the v1 interpolation arithmetic: v_lo +
    (h − k_lo) · (v_hi − v_lo), every op an IEEE double — Python floats
    reproduce Spark's doubles bit-for-bit."""
    out = []
    for r in bounds_rows:
        g, n = r["grp"], r["n"]
        for p in probs:
            k_lo, k_hi, h = _ranks_for(n, p, discrete)
            v_lo, v_hi = kv[(g, k_lo)], kv[(g, k_hi)]
            out.append((g, float(p), v_lo + (h - float(k_lo)) * (v_hi - v_lo)))
    return out


def exact_quantiles_rows(
    spark: SparkSession,
    df: DataFrame,
    value_col: str,
    probs: list[float],
    n_buckets: int = 4096,
    discrete: bool = False,
) -> list[tuple[float, float]]:
    """``exact_quantiles`` returning the plain Python [(p, value), ...] rows
    (sorted by p) — for consumers that post-process the driver-sized result
    anyway. Runs eagerly (two fact passes; see module docstring)."""
    vals = df.select(F.col(value_col).cast("double").alias("v")).filter(
        F.col("v").isNotNull() & ~F.isnan("v")
    )
    with job_description(spark, "exact_quantiles: bounds"):
        row = vals.agg(
            F.min("v").alias("lo"), F.max("v").alias("hi"), F.count("v").alias("n")
        ).collect()[0]
    if not row["n"]:
        return []
    # single group: lo/hi inline as literals — the bucket key needs no join
    with_b = vals.select(
        F.lit("_").alias("grp"),
        "v",
        F.lit(row["lo"]).alias("lo"),
        F.lit(row["hi"]).alias("hi"),
    ).select("grp", "v", _bucket_expr(n_buckets))
    grp_field = T.StructField("grp", T.StringType(), False)
    bounds_rows = [{"grp": "_", "n": row["n"]}]
    bounds_rows, kv = _extract(spark, with_b, grp_field, bounds_rows, probs, discrete)
    return sorted((p, v) for _, p, v in _interp_rows(bounds_rows, kv, probs, discrete))


def exact_quantiles(
    spark: SparkSession,
    df: DataFrame,
    value_col: str,
    probs: list[float],
    n_buckets: int = 4096,
    out_value: str = "value",
    discrete: bool = False,
) -> DataFrame:
    """Interpolated exact quantiles of ``df[value_col]`` at ``probs``.

    Returns a DataFrame (p double, value double) with one row per prob,
    equal to ``F.percentile(value_col, probs)`` / DuckDB ``quantile_cont``.
    NULLs are excluded (both references do the same); NaNs are excluded too
    (they would poison the min/max bucket bounds — callers that need
    NaN-propagation semantics must pre-filter or pre-map them).
    EAGER: executes on call, returns a literal snapshot (module docstring).
    """
    rows = exact_quantiles_rows(spark, df, value_col, probs, n_buckets, discrete)
    schema = T.StructType(
        [
            T.StructField("p", T.DoubleType(), False),
            T.StructField(out_value, T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(rows, schema)


def exact_quantiles_grouped_rows(
    spark: SparkSession,
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: list[float],
    n_buckets: int = 4096,
    discrete: bool = False,
    bounds_rows: list | None = None,
) -> list[tuple]:
    """``exact_quantiles_grouped`` returning plain Python rows
    [(grp, p, value), ...] sorted by (grp, p). Runs eagerly.

    ``bounds_rows``: pre-collected per-group bounds — rows with fields
    (grp, lo, hi, n) — so multi-extraction consumers share ONE bounds
    collect across calls (lo/hi may over-cover; n MUST be the exact
    non-null count, ranks derive from it)."""
    g = F.col(group_col).alias("grp")
    vals = df.select(g, F.col(value_col).cast("double").alias("v")).filter(
        F.col("v").isNotNull() & ~F.isnan("v")
    )
    if bounds_rows is not None:
        bounds_rows = [
            {"grp": r["grp"], "lo": float(r["lo"]), "hi": float(r["hi"]), "n": int(r["n"])}
            for r in bounds_rows
        ]
    else:
        with job_description(spark, "exact_quantiles_grouped: bounds"):
            bounds_rows = (
                vals.groupBy("grp")
                .agg(
                    F.min("v").alias("lo"), F.max("v").alias("hi"), F.count("v").alias("n")
                )
                .collect()
            )
    grp_field = T.StructField("grp", df.schema[group_col].dataType, True)
    bounds_rows = [r for r in bounds_rows if r["grp"] is not None and r["n"]]
    if not bounds_rows:
        return []
    blit = spark.createDataFrame(
        [(r["grp"], float(r["lo"]), float(r["hi"])) for r in bounds_rows],
        T.StructType(
            [
                grp_field,
                T.StructField("lo", T.DoubleType(), False),
                T.StructField("hi", T.DoubleType(), False),
            ]
        ),
    )
    with_b = vals.join(F.broadcast(blit), "grp").select(
        "grp", "v", _bucket_expr(n_buckets)
    )
    bounds_rows, kv = _extract(
        spark, with_b, grp_field, bounds_rows, probs, discrete, label="_grouped"
    )
    # natural group ordering (groups are homogeneous and non-null here) —
    # the same (group, p) order v2's orderBy produced
    return sorted(_interp_rows(bounds_rows, kv, probs, discrete))


def exact_quantiles_grouped(
    spark: SparkSession,
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: list[float],
    n_buckets: int = 4096,
    out_value: str = "value",
    discrete: bool = False,
) -> DataFrame:
    """Per-GROUP distributed exact quantiles: the grouped generalization of
    ``exact_quantiles`` — every step gains the group key, nothing else
    changes. Per-group bounds come from one aggregate (callers that share
    them use ``exact_quantiles_grouped_rows``); buckets key on (group, bucket);
    extraction picks ranks within (group, bucket). No task ever buffers
    more than one (group, bucket) — the per-group holistic ``percentile``
    instead buffers each group's ENTIRE column in the task that finalizes
    it (robust_stats' documented cost).

    Returns (group, p, value), equal per group to F.percentile /
    quantile_cont. EAGER: executes on call, returns a literal snapshot.
    """
    rows = exact_quantiles_grouped_rows(
        spark, df, group_col, value_col, probs, n_buckets, discrete
    )
    out_schema = T.StructType(
        [
            T.StructField(group_col, df.schema[group_col].dataType, True),
            T.StructField("p", T.DoubleType(), False),
            T.StructField(out_value, T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(rows, out_schema)
