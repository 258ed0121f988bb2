"""Temporal join operators (SURVEY.md §2.4 notes the reference has no
theta/range/as-of joins — these are the extension forms every event pipeline
needs, built so Spark never falls back to a nested-loop join).

- ``asof_join``: for each left row, the latest right row with
  right_ts ≤ left_ts per key — the union+running-window formulation: tag the
  two sides, union, and take ``last(right_payload, ignoreNulls)`` over a
  running (ts, side, seq) window per key. ONE shuffle, linear state, no
  range-condition join at all (a naive ``l.ts >= r.ts`` equi+theta join is
  quadratic per key; Spark would nested-loop it).
- ``range_join_banded``: point-in-interval joins via interval banding —
  explode each interval into the fixed-width bands it covers, equi-join on
  (key, band), then apply the exact range predicate. Each (point, interval)
  pair meets in exactly one band (the point's), so no dedup pass. Band width
  trades explode factor vs selectivity; Catalyst sees a plain equi-join and
  plans broadcast/shuffle-hash as usual.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: cogroup buckets of ``asof_join_cogrouped`` (>= cluster cores, so AQE can
#: spread them; raise it when one bucket outgrows executor memory)
ASOF_BUCKETS = 64


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_ts: str,
    right_ts: str,
    right_vals: list[str],
    seq_col: str,
    prefix: str = "asof_",
) -> DataFrame:
    """Backward as-of join: left rows + the latest right row (ts ≤ left ts)
    per ``by`` key. ``seq_col`` (present in both inputs) makes the order
    total at equal timestamps — at a tie, the right row sorts before the
    left row (so a same-instant right row IS visible) and higher ``seq_col``
    wins among right rows. Unmatched left rows keep nulls."""
    rv = F.struct(
        F.col(right_ts).alias("__ts_v"), *[F.col(c) for c in right_vals]
    )
    rt = (
        right.select(*by, F.col(right_ts).alias("__ts"), F.col(seq_col).alias("__seq"), rv.alias("__rv"))
        .withColumn("__side", F.lit(0))
    )
    lt = (
        left.withColumn("__ts", F.col(left_ts))
        .withColumn("__seq", F.col(seq_col))
        .withColumn("__side", F.lit(1))
    )
    u = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        Window.partitionBy(*by)
        .orderBy("__ts", "__side", "__seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    picked = u.withColumn("__pick", F.last("__rv", ignorenulls=True).over(w))
    sel = [F.col(c) for c in left.columns]
    sel.append(F.col("__pick.__ts_v").alias(prefix + right_ts))
    sel += [F.col(f"__pick.{c}").alias(prefix + c) for c in right_vals]
    return picked.filter(F.col("__side") == 1).select(*sel)


def range_join_banded(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_point: str,
    right_start: str,
    right_end: str,
    band_seconds: int,
) -> DataFrame:
    """Point-in-interval equi-join: rows of ``left`` matched to every row of
    ``right`` whose [start, end] contains the point (inclusive), same ``by``
    key. Inputs must have disjoint non-key column names (rename first)."""
    band = F.lit(int(band_seconds))
    lb = left.withColumn(
        "__band", F.floor(F.col(left_point).cast("long") / band).cast("long")
    )
    rb = right.withColumn(
        "__band",
        F.explode(
            F.sequence(
                F.floor(F.col(right_start).cast("long") / band).cast("long"),
                F.floor(F.col(right_end).cast("long") / band).cast("long"),
            )
        ),
    )
    return (
        lb.join(rb, by + ["__band"])
        .filter(
            (F.col(left_point) >= F.col(right_start))
            & (F.col(left_point) <= F.col(right_end))
        )
        .drop("__band")
    )


def asof_join_cogrouped(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_ts: str,
    right_ts: str,
    right_vals: list[str],
    seq_col: str,
    prefix: str = "asof_",
) -> DataFrame:
    """The SAME contract as ``asof_join``, executed as
    ``cogroup().applyInPandas``. This is the cogrouped-map escape hatch
    (the two-input sibling of the allocator's grouped-map): use it when
    per-key logic needs BOTH sides materialized at once — custom tolerance
    rules, per-key models, nearest-rather-than-backward semantics — where
    the union+window trick stops composing. For the plain backward as-of
    the window form stays the JVM-side fast path; keeping both behind one
    contract lets tests pin strategy equivalence.

    The cogroup key is ``hash(by) % ASOF_BUCKETS``, NOT the raw key: with
    many tiny key groups, per-GROUP kernel-invocation overhead dominates
    (the per-user form measured ~13 s at sf0.1 for 60k users vs ~0.8 s
    for the window form). Bucketing amortizes it — one kernel call per
    bucket, with pandas ``merge_asof(by=...)`` doing the per-key matching
    vectorized inside — measured 13.5 s → 5.6 s on that workload, and the
    bucket count (not key cardinality) now sets the invocation cost. Both sides
    hash identically, so buckets are co-partitioned; per-task memory is
    O(rows-per-bucket).

    Ties mirror the window form: a same-instant right row IS visible, and
    among right ties the higher ``seq_col`` wins (merge_asof takes the
    last row in (ts, seq) sort order whose key matches).

    The right side is internally renamed ``__r_<col>`` before the cogroup:
    when both sides derive from the SAME scan (self-cogroup, as in
    click-attribution), shared attribute ids make Spark prune the right
    side down to its grouping key — the kernel then receives key-only
    right frames. Distinct names keep the attributes distinct (observed on
    Spark 4.1; harmless everywhere else)."""
    import pandas as pd

    from pyspark.sql import types as T

    right_types = {f.name: f.dataType for f in right.schema.fields}
    out_fields = list(left.schema.fields) + [
        T.StructField(prefix + right_ts, right_types[right_ts]),
        *[T.StructField(prefix + c, right_types[c]) for c in right_vals],
    ]
    out_schema = T.StructType(out_fields)
    out_cols = [f.name for f in out_fields]
    # unmatched lefts yield NaN; integer outputs need pandas' nullable ints
    pd_int = {"long": "Int64", "integer": "Int32"}
    null_casts = {
        prefix + c: pd_int[right_types[c].typeName()]
        for c in right_vals
        if right_types[c].typeName() in pd_int
    }

    unmangle = {f"__r_{c}": c for c in right.columns}
    bucket = "__asof_bucket"

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:  # right-only bucket: contributes no output rows
            return pd.DataFrame(columns=out_cols)
        lpdf = lpdf.drop(columns=[bucket])
        rpdf = rpdf.rename(columns=unmangle).drop(columns=[bucket])
        # merge_asof requires monotone 'on'; (ts, seq) keeps within-key tie
        # order deterministic (later seq sorts later → wins backward match)
        lpdf = lpdf.sort_values([left_ts, seq_col], kind="mergesort")
        if rpdf.empty:  # left-only bucket: all match columns null
            out = lpdf.copy()
            out[prefix + right_ts] = pd.NaT
            for c in right_vals:
                out[prefix + c] = pd.array([None] * len(out), dtype="object")
            for col, dtype in null_casts.items():
                out[col] = out[col].astype(dtype)
            return out[out_cols]
        r = rpdf.sort_values([right_ts, seq_col], kind="mergesort")
        rr = pd.DataFrame(
            {
                **{k: r[k].array for k in by},  # merge_asof 'by' keys
                left_ts: r[right_ts],  # merge_asof 'on' key (consumed)
                prefix + right_ts: r[right_ts],  # matched ts, kept as output
                **{prefix + c: r[c].array for c in right_vals},
            }
        )
        out = pd.merge_asof(
            lpdf,
            rr,
            on=left_ts,
            by=by,
            direction="backward",
            allow_exact_matches=True,
        )
        for col, dtype in null_casts.items():
            out[col] = out[col].astype(dtype)
        return out[out_cols]

    left_b = left.withColumn(
        bucket, F.pmod(F.hash(*by), F.lit(ASOF_BUCKETS))
    )
    mangled = right.select(
        [F.col(c).alias(f"__r_{c}") for c in right.columns]
    ).withColumn(
        bucket, F.pmod(F.hash(*[f"__r_{k}" for k in by]), F.lit(ASOF_BUCKETS))
    )
    return (
        left_b.groupBy(bucket)
        .cogroup(mangled.groupBy(bucket))
        .applyInPandas(merge, out_schema)
    )


def merge_intervals(df: DataFrame) -> DataFrame:
    """Merge overlapping per-user intervals ``(user_id, s, e, event_id)``
    (the interval-union sweep behind plans/temporal.q_interval_merge,
    factored for direct fuzzing): island detection over the pinned
    (s, event_id) total order — a row opens a new island iff its start
    exceeds the running max of all PRECEDING ends (rows-between frame,
    never range) — then min(s)/max(e) per island. Returns (user_id, island,
    ms, me). Touching intervals (start == previous end) MERGE: the predicate
    is strict ``>``.

    One exchange on the user serves both window passes and the island
    aggregate; integer inputs stay exact end to end."""
    order = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_end = F.max("e").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.withColumn(
        "__new",
        F.when(prev_max_end.isNull() | (F.col("s") > prev_max_end), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("__new").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
