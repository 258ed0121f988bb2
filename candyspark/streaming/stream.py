"""Structured Streaming form of the event aggregations (SURVEY.md §2.11).

The batch operators in ``streaming.events`` are the same logical plans
Structured Streaming runs incrementally; this module wires one up as a real
stream: file source → watermark → tumbling-window aggregate → sink. Tests
execute it with ``availableNow`` (process-everything-then-stop) against a
parquet directory and assert the result equals the batch operator — the
batch/streaming unification that makes the engine's windowed operators
deploy as either.

At scale: the watermark bounds state (late events beyond it are dropped and
the window's state evicted); ``availableNow`` is also the production pattern
for incremental batch over a growing directory (checkpointed offsets, no
always-on cluster).
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from candyspark.schemas import EVENTS
from candyspark.streaming.events import WINDOW

#: how far event time may lag before a stateful operator drops late rows
#: and evicts their state
WATERMARK = "2 hours"


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of events (parquet directory, µs timestamps)."""
    return spark.readStream.schema(EVENTS).parquet(path)


def streaming_tumbling_agg(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window count+sum per event_type — identical
    aggregation to ``events.tumbling_agg`` (kept textually in sync; the
    decimal discipline matters even here for batch/stream equality)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("num_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "num_events",
            "total_value",
        )
    )


def streaming_dedup(events: DataFrame, keys: list[str]) -> DataFrame:
    """Watermarked streaming deduplication: first arrival per key wins,
    duplicates dropped across micro-batches. State holds one entry per key
    seen within the watermark horizon — the watermark is what makes dedup
    state FINITE on an unbounded stream (keys older than the horizon are
    evicted; a duplicate arriving later than the watermark would pass, by
    contract).

    Batch twin: ``dropDuplicates(keys)`` / SELECT DISTINCT — equal output
    whenever the run is a single micro-batch or all duplicates arrive
    within the watermark.
    """
    return events.withWatermark("ts", WATERMARK).dropDuplicates([*keys, "ts"])


def streaming_dedup_within_watermark(events: DataFrame, keys: list[str]) -> DataFrame:
    """Near-duplicate-in-TIME deduplication: ``dropDuplicatesWithinWatermark``
    collapses re-sends of the same key whose event times DIFFER (retry with a
    fresh timestamp — the case plain ``dropDuplicates([*keys, "ts"])`` cannot
    catch, because the jittered ts makes the composite key unique). State per
    key lives exactly one watermark delay past its first arrival and is then
    evicted — the API's contract is bounded state by construction, which is
    the difference between "works in the demo" and "runs for a month" on an
    unbounded stream. First-arrival-wins: columns outside ``keys`` keep the
    first-seen row's values, so only key-determined columns are
    deterministic under arrival reordering."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(keys)


def streaming_click_error_join(clicks: DataFrame, errors: DataFrame, how: str) -> DataFrame:
    """Stream-stream join of each click with the errors the same user
    raised within the following hour (``error_ts BETWEEN click_ts AND
    click_ts + 1 hour``). Both sides carry ``WATERMARK`` and the join
    carries the time bound — together they let the engine evict buffered
    rows once no future match is possible, so state stays bounded by
    construction (the canonical stream-stream pattern).

    ``how`` is ``inner`` (matched pairs only), ``leftOuter`` (every click:
    one that never errored emits null-padded once event time passes
    click_ts + 1 hour + the watermark — watermark-DRIVEN, not
    end-of-data-driven) or ``fullOuter`` (also every error that followed
    no click, null-padded once the watermark proves no click can still
    arrive). State and eviction are the same for all three; only the
    emission set differs.

    Batch twin / oracle: the identical JOIN over static frames
    (plans/extensions range_join_error_window is the banded batch form).
    """
    c = clicks.withWatermark("ts", WATERMARK).select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    e = errors.withWatermark("ts", WATERMARK).select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("error_ts"),
        F.col("event_id").alias("error_id"),
    )
    return c.join(
        e,
        F.expr("c_user = e_user AND error_ts BETWEEN click_ts AND click_ts + INTERVAL 1 HOUR"),
        how,
    )


def streaming_static_enrich(stream: DataFrame, static_dim: DataFrame, keys: list[str]) -> DataFrame:
    """Stream-static equi-join: enrich each streaming row with a static
    (batch-computed) dimension. Stateless on the stream side — no watermark
    needed, the static side is re-read (and re-broadcast) per micro-batch,
    which is exactly how slowly-changing dims stay fresh under a long-running
    query. Batch twin: the same equi-join of two static frames."""
    return stream.join(F.broadcast(static_dim), keys, "inner")


#: State partitions for every ``drain()``. A stateful streaming query
#: instantiates one state store per shuffle partition per stateful
#: operator per micro-batch; at fixture scale (<=1M rows) 32 stores are
#: pure fixed cost — measured on the left-outer click/error join at sf0.1: 16.6 s at
#: 32 partitions vs 7.7 s at 4, identical results. This is a
#: HARNESS-SCALE knob: a real deployment sizes it to state volume at
#: query birth (it is frozen into the checkpoint and cannot change
#: across restarts without offline state rescaling).
STATE_PARTITIONS = 4

#: State-store backend for ``drain()`` ("hdfs" | "rocksdb").
#:
#: 100-TB state math, per partition: the default HDFSBackedStateStoreProvider
#: keeps EVERY live state row as JVM objects on the executor heap — a
#: stream-stream join buffering one watermark-window of a 100 TB/day fact
#: (~2 h of 1.2 GB/s ≈ 8.6 TB live state) across 2048 state partitions is
#: ~4.2 GB of heap PER PARTITION per join side, which is an OOM, not a
#: tuning problem. RocksDBStateStoreProvider keeps state off-heap on local
#: SSD (block-cache-bounded memory) and, with changelog checkpointing,
#: uploads only the per-batch delta instead of re-snapshotting the full
#: store — the difference between O(state) and O(update-rate) checkpoint
#: I/O. That is the right posture for the big-state drains (stream-stream
#: joins, dedup, sessionization); the tiny fixture states in tests run on
#: either backend, and `tests/test_streaming.py::test_rocksdb_state_store`
#: pins batch≡stream equality under RocksDB (rocksdbjni ships in this
#: build's jars).
STATE_STORE = "hdfs"

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextmanager
def _scoped_stream_confs(spark: SparkSession, state_store: str):
    """Set stream-birth session confs (state partitions, state-store
    provider) around stream START — a stateful query freezes both into its
    checkpoint at birth — restoring session values after so batch queries
    planned later keep the engine-wide settings."""
    confs = {"spark.sql.shuffle.partitions": str(STATE_PARTITIONS)}
    if state_store == "rocksdb":
        confs["spark.sql.streaming.stateStore.providerClass"] = _ROCKSDB_PROVIDER
        # per-batch delta upload instead of full-store re-snapshot
        confs[
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        ] = "true"
    elif state_store != "hdfs":
        raise ValueError(f"unknown state_store {state_store!r}")
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def drain(
    stream_df: DataFrame,
    mode: str,
    checkpoint_dir: str,
    state_store: str = STATE_STORE,
) -> DataFrame:
    """Drain everything currently in the source through a memory sink
    (``availableNow``: process what is there, then stop) and return the
    sink's rows.

    ``mode`` is the sink's output mode: ``complete`` for final aggregate
    totals; ``append`` for row-level operators (dedup, stream-stream joins)
    and for chained stateful stages — append emits a window only once the
    watermark passes its end, so callers that want every window flushed
    land a far-future sentinel row and filter it from the result;
    ``update`` for snapshot-emitting operators like transformWithState.

    The sink's temp view is dropped before returning: the memory sink holds
    its rows on the driver, so the returned frame outlives the view, the
    source and the checkpoint directory, and the session catalog does not
    grow with every drain."""
    spark = stream_df.sparkSession
    name = f"drain_{uuid.uuid4().hex[:12]}"
    with _scoped_stream_confs(spark, state_store):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    try:
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def merged_table_path(out_dir: str) -> str | None:
    """Resolve the CURRENT committed version of a ``run_foreach_batch_merge``
    table: the fence names the live version directory. None before the
    first commit."""
    import os

    fence = os.path.join(out_dir, "_last_committed_batch")
    if not os.path.exists(fence):
        return None
    with open(fence) as f:
        content = f.read().strip()
    if not content:
        return None
    path = os.path.join(out_dir, f"data_v{int(content)}")
    return path if os.path.exists(path) else None


def run_foreach_batch_merge(
    stream_df: DataFrame,
    out_dir: str,
    key_cols: list[str],
    version_col: str,
    checkpoint_dir: str,
) -> None:
    """Exactly-once keyed UPSERT into a parquet-backed table via the
    idempotent ``foreachBatch`` recipe — the production pattern for sinks
    with no native transactional streaming support.

    Structured Streaming guarantees each (checkpoint, batchId) is delivered
    at-least-once; exactly-once is the SINK's job and comes from two
    disciplines applied here:

    1. **batchId fencing**: the sink persists the last committed batchId
       next to the data; a replayed batch (same id after a restart that
       crashed between sink commit and checkpoint commit) is skipped.
    2. **versioned publish**: each commit writes a NEW ``data_v{batchId}``
       directory and then atomically rewrites the fence (temp file +
       rename) to point at it — readers resolve the table through
       ``merged_table_path`` so they only ever see a fully-written
       version, and a crash anywhere mid-commit leaves the fence on the
       previous intact version, whose replay re-runs an idempotent merge.
       (The naive delete-live-dir-then-rename-staging scheme has a crash
       window that loses the whole table; versions + a pointer don't.)
       Superseded versions are pruned only after the fence moves on.

    Merge semantics: latest row per ``key_cols`` by ``version_col``.
    Determinism is the caller's contract: pick a ``version_col`` UNIQUE
    within each key (an event id, an offset — not a wall clock that can
    tie); on a tie the surviving row is arbitrary. At cluster scale
    the same sink body targets a table format (Delta/Iceberg MERGE) whose
    commit protocol replaces the version-pointer dance; the fencing logic
    is identical — this is the shape, runnable on plain parquet.
    """
    import glob as _glob
    import os
    import shutil

    from pyspark.sql import Window as W

    fence = os.path.join(out_dir, "_last_committed_batch")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        last = -1
        if os.path.exists(fence):
            with open(fence) as f:
                last = int(f.read().strip() or "-1")
        if batch_id <= last:  # replay after restart: already committed
            return
        spark = batch_df.sparkSession
        current = merged_table_path(out_dir)
        if current is not None:
            merged = spark.read.parquet(current).unionByName(batch_df)
        else:
            merged = batch_df
        w = W.partitionBy(*key_cols).orderBy(F.desc(version_col))
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        new_version = os.path.join(out_dir, f"data_v{batch_id}")
        latest.write.mode("overwrite").parquet(new_version)
        # atomic fence flip: temp file + rename, THEN prune old versions
        tmp_fence = fence + ".tmp"
        with open(tmp_fence, "w") as f:
            f.write(str(batch_id))
        os.replace(tmp_fence, fence)
        for old in _glob.glob(os.path.join(out_dir, "data_v*")):
            if old != new_version:
                shutil.rmtree(old, ignore_errors=True)

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_cms_cells(events: DataFrame) -> DataFrame:
    """Count-Min Sketch cells maintained AS STREAMING STATE: the d×w cell
    grid is a running aggregate whose state size is fixed (≤ d·w rows)
    no matter how long the stream runs — the live form of the mergeability
    argument in plans/sketches.q_cms_heavy_hitters (per-batch partials
    merge by cell-wise sum, which is exactly what the streaming aggregate
    does across micro-batches). No watermark needed: the state is the
    sketch itself, already bounded. ONE cell definition shared with the
    batch build/probe (operators/sketch.cms_cells — same md5 row hashes,
    NULL keys excluded on both engines), so the drained cells hash-match
    a batch DuckDB oracle."""
    from candyspark.operators.sketch import cms_cells

    return cms_cells(events.select("user_id"), "user_id")

