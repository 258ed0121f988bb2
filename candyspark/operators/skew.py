"""Skew mitigation (SURVEY.md §4.3 / M6): salting for hot keys.

AQE's skew-join split (``spark.sql.adaptive.skewJoin``) handles sort-merge
join skew at runtime and is ON in the engine session — these helpers cover
the two cases AQE does not:

- ``salted_agg``: a hash aggregation whose hot grouping key floods one
  reducer. Salt the key (``key, salt``) for a partial aggregate, then
  combine partials per key. Two shuffles, but the first spreads the hot key
  over ``buckets`` reducers — at 100 TB a single hot key otherwise pins the
  stage on one task. Only algebraic measures (sum/count/min/max) compose;
  the caller provides the partial and final agg expression lists.
- ``salted_broadcast_left``: replicate-right salted equi-join for when the
  right side is too big to broadcast whole but a FEW left keys are hot:
  left gets a random salt in [0, buckets), right is exploded ``buckets``×
  on those hot keys only (everything else keeps salt 0), restoring a
  uniform (key, salt) distribution. Row-multiplication is confined to the
  hot-key slice of the right side.

Salts derive from a deterministic hash of a caller-named unique column
(never ``rand()`` — retries/speculative tasks must salt identically or
results change under failure replay).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def det_salt(unique_col: str | Column, buckets: int) -> Column:
    """Deterministic salt in [0, buckets): xxhash of a unique column —
    stable under task retries, unlike rand()-based salting."""
    c = F.col(unique_col) if isinstance(unique_col, str) else unique_col
    return F.pmod(F.xxhash64(c), F.lit(buckets)).cast("int")


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    unique_col: str,
    partial_aggs: list[Column],
    final_aggs: list[Column],
    buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed keys: groupBy(key, salt) partials,
    then groupBy(key) combine. ``partial_aggs`` run in phase 1 (aliased),
    ``final_aggs`` combine those aliases in phase 2 (re-aliased to the same
    public names)."""
    salted = df.withColumn("__salt", det_salt(unique_col, buckets))
    partial = salted.groupBy(*key_cols, "__salt").agg(*partial_aggs)
    return partial.groupBy(*key_cols).agg(*final_aggs)


def salted_broadcast_left(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_unique_col: str,
    hot_keys: DataFrame,
    buckets: int = 16,
) -> DataFrame:
    """Inner equi-join with the hot-key slice of ``right`` replicated ``buckets``×.

    ``hot_keys`` is a (small, broadcastable) DataFrame of the skewed key
    values — at scale, produce it from a sampled count (e.g. keys above
    p99.9 frequency). Non-hot right rows keep salt 0 and are joined exactly
    once; left rows of non-hot keys get salt 0 via the same membership test.
    """
    hot = F.broadcast(hot_keys.select(*key_cols).distinct().withColumn("__hot", F.lit(True)))
    lsalted = (
        left.join(hot, key_cols, "left")
        .withColumn(
            "__salt",
            F.when(F.col("__hot").isNotNull(), det_salt(left_unique_col, buckets)).otherwise(
                F.lit(0)
            ),
        )
        .drop("__hot")
    )
    rsalted = (
        right.join(hot, key_cols, "left")
        .withColumn(
            "__salts",
            F.when(
                F.col("__hot").isNotNull(),
                F.sequence(F.lit(0), F.lit(buckets - 1)),
            ).otherwise(F.array(F.lit(0))),
        )
        .withColumn("__salt", F.explode("__salts"))
        .drop("__salts", "__hot")
    )
    return lsalted.join(rsalted, key_cols + ["__salt"]).drop("__salt")


def salted_topk(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[Column],
    unique_col: str,
    k: int,
    buckets: int = 16,
) -> DataFrame:
    """Two-phase per-key top-k for skewed keys: rank within (key, salt)
    and keep k per bucket, then rank the ≤ k·buckets survivors within key
    and keep k. Semantically invisible: every true global top-k row is in
    its own bucket's top-k (removing other rows can only IMPROVE its
    bucket rank), so phase 1 never drops an answer — the property the
    docstring mitigations in source_caps/class_balance appeal to, here as
    tested code. ``order_cols`` must be a TOTAL order (tie-broken) for
    cross-engine determinism.

    At 100 TB this is the shape when one key owns a double-digit share of
    the table: the single-window form sorts the hot key's entire
    partition in one task; here the first exchange spreads it over
    ``buckets`` reducers and the second sorts ≤ k·buckets rows per key.
    """
    w1 = Window.partitionBy(*key_cols, "__salt").orderBy(*order_cols)
    w2 = Window.partitionBy(*key_cols).orderBy(*order_cols)
    survivors = (
        df.withColumn("__salt", det_salt(unique_col, buckets))
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .drop("__salt", "__r1")
    )
    return (
        survivors.withColumn("rk", F.row_number().over(w2).cast("int"))
        .filter(F.col("rk") <= k)
    )
