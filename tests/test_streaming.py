"""Structured Streaming ≡ batch: the streaming tumbling-window aggregate over
a file source (availableNow trigger) produces exactly the batch operator's
result — the unification that lets the windowed operators deploy either way.
The stateful allocator additionally pins cross-micro-batch state carry
against the batch kernel."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pandas as pd
import pytest

from candyspark.operators.allocation import allocate_greedy
from candyspark.schemas import EVENTS
from candyspark.sources.readers import load_table
from candyspark.sources.sinks import save_parquet
from candyspark.streaming.events import tumbling_agg
from candyspark.streaming.stateful import streaming_greedy_allocation
from candyspark.streaming.stream import (
    drain,
    read_events_stream,
    streaming_tumbling_agg,
)


def test_streaming_equals_batch(spark, tmp_path):
    # Re-land events as a µs-timestamp parquet dir (the stream source can't
    # use the ns-typed original for the same reason batch can't).
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_src")
    save_parquet(events, src)

    stream = streaming_tumbling_agg(read_events_stream(spark, src))
    assert stream.isStreaming
    got = drain(stream, "complete", str(tmp_path / "ckpt")).toPandas()

    want = tumbling_agg(events).toPandas()
    key = ["window_start", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)


REQ_SCHEMA = (
    "product_id long, order_id long, ts timestamp, qty double, "
    "stock double, unit_price double"
)


def _day(d: int, h: int) -> dt.datetime:
    return dt.datetime(2024, 2, d, h, 0, 0)


def test_stateful_allocation_carries_stock_across_batches(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): day-2 verdicts depend on
    day-1 consumption held in the state store, and the whole run equals the
    batch allocator over the concatenated period."""
    day1 = [
        (1, 101, _day(1, 9), 4.0, 10.0, 2.5),
        (1, 102, _day(1, 10), 5.0, 10.0, 2.5),   # product 1 -> remaining 1
        (2, 103, _day(1, 11), 6.0, 5.0, 1.0),    # over stock -> cancelled
    ]
    day2 = [
        (1, 201, _day(2, 9), 2.0, 10.0, 2.5),    # > remaining 1 -> cancelled
        (1, 202, _day(2, 10), 1.0, 10.0, 2.5),   # fits remaining -> filled
        (2, 203, _day(2, 11), 5.0, 5.0, 1.0),    # day-1 cancel left 5 -> filled
        (2, 204, _day(2, 12), 0.0, 5.0, 1.0),    # zero qty -> cancelled
    ]
    # land each day as one named file with day-ordered mtimes — the file
    # source picks batches oldest-mtime-first (part-file UUID names don't
    # sort by write order, so name/mtime must be pinned explicitly)
    src = tmp_path / "requests"
    src.mkdir()
    for i, rows in enumerate([day1, day2]):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, REQ_SCHEMA).coalesce(1).write.parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        dest = str(src / f"day{i}.parquet")
        os.rename(part, dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))
    src = str(src)

    stream = streaming_greedy_allocation(
        spark.readStream.schema(REQ_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    assert stream.isStreaming
    got = (
        drain(stream, "append", str(tmp_path / "ckpt"))
        .toPandas()
        .sort_values(["product_id", "order_id"])
        .reset_index(drop=True)
    )

    batch_in = spark.createDataFrame(day1 + day2, REQ_SCHEMA)
    want = (
        allocate_greedy(
            batch_in,
            group_col="product_id",
            order_cols=["ts", "order_id"],
            qty_col="qty",
            stock_col="stock",
            unit_price_col="unit_price",
            out_keys=["product_id", "order_id"],
        )
        .toPandas()
        .sort_values(["product_id", "order_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)
    # the cross-batch dependency actually bit: 201 cancelled, 202 filled
    by_order = got.set_index("order_id")
    assert by_order.loc[201, "fulfilled_qty"] == 0.0
    assert by_order.loc[202, "fulfilled_qty"] == 1.0
    assert by_order.loc[203, "fulfilled_qty"] == 5.0
    assert by_order.loc[204, "fulfilled_qty"] == 0.0


def test_streaming_dedup_state_spans_batches(spark, tmp_path):
    """A duplicate arriving in a LATER micro-batch must still be dropped —
    the dedup state store, not per-batch distinct, is what's under test."""
    import glob as _glob
    import os as _os

    from candyspark.streaming.stream import streaming_dedup

    ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    batch1 = [(1, ts, 10, "click", 1.0, "{}"), (2, ts, 11, "view", 2.0, "{}")]
    batch2 = [(1, ts, 10, "click", 1.0, "{}"), (3, ts, 12, "error", 3.0, "{}")]
    src = tmp_path / "events"
    src.mkdir()
    for i, rows in enumerate([batch1, batch2]):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, EVENTS).coalesce(1).write.parquet(stage)
        (part,) = _glob.glob(_os.path.join(stage, "part-*.parquet"))
        dest = str(src / f"b{i}.parquet")
        _os.rename(part, dest)
        _os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = streaming_dedup(
        spark.readStream.schema(EVENTS).option("maxFilesPerTrigger", 1).parquet(str(src)),
        ["event_id"],
    )
    assert stream.isStreaming
    out = drain(stream, "append", str(tmp_path / "ckpt"))
    got = sorted(r["event_id"] for r in out.collect())
    assert got == [1, 2, 3]  # the batch-2 re-send of event 1 was dropped by state


def test_tws_running_totals_carry_across_batches(spark, tmp_path):
    """State API v2 (transformWithStateInPandas): per-user totals must
    accumulate ACROSS micro-batches — batch 2's snapshot for user 10
    includes batch 1's events. Skipped where protobuf (the v2 state
    protocol's wire format) isn't installed."""
    pytest.importorskip("google.protobuf")
    import glob as _glob
    import os as _os

    from candyspark.streaming.tws import streaming_running_totals

    ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    batch1 = [(1, ts, 10, "click", 1.25, "{}"), (2, ts, 11, "view", 2.00, "{}")]
    batch2 = [(3, ts, 10, "click", 0.75, "{}")]
    src = tmp_path / "events"
    src.mkdir()
    for i, rows in enumerate([batch1, batch2]):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, EVENTS).coalesce(1).write.parquet(stage)
        (part,) = _glob.glob(_os.path.join(stage, "part-*.parquet"))
        dest = str(src / f"b{i}.parquet")
        _os.rename(part, dest)
        _os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = streaming_running_totals(
        spark.readStream.schema(EVENTS).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    assert stream.isStreaming
    rows = drain(stream, "update", str(tmp_path / "ckpt")).collect()
    # update mode appends one snapshot per (user, batch) to the memory sink;
    # the LAST snapshot per user is the running total
    last = {}
    for r in rows:
        last[r["user_id"]] = (r["n_events"], r["total_cents"])
    assert last[10] == (2, 200)  # 1.25 + 0.75 across two batches
    assert last[11] == (1, 200)


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Restarting an availableNow stream against the SAME checkpoint must
    process only data that arrived since the last run — offsets persist,
    nothing replays, nothing is double-written to the file sink. This is
    the exactly-once contract a 100-TB incremental pipeline leans on
    (reprocessing a day of input on every restart is the naive-batch
    failure mode the checkpoint exists to kill)."""
    import glob as _glob
    import os as _os

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def land(rows, tag):
        stage = str(tmp_path / f"stage_{tag}")
        spark.createDataFrame(rows, EVENTS).coalesce(1).write.parquet(stage)
        (part,) = _glob.glob(_os.path.join(stage, "part-*.parquet"))
        _os.rename(part, str(src / f"{tag}.parquet"))

    def drain():
        q = (
            spark.readStream.schema(EVENTS)
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    land([(1, ts, 10, "click", 1.0, "{}"), (2, ts, 11, "view", 2.0, "{}")], "b0")
    drain()
    first = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert first == [1, 2]

    land([(3, ts, 12, "error", 3.0, "{}")], "b1")
    drain()  # SAME checkpoint: must pick up only b1
    second = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert second == [1, 2, 3]  # no duplicates of 1/2, no loss of 3


def test_candy_transactions_stream_matches_batch(spark, tmp_path):
    """The reference names real-time streaming as future work (README:101);
    this drives its OWN ten daily transaction files through Structured
    Streaming one file per micro-batch — multiLine JSON-array source,
    explode, per-day event-time aggregation — and requires the final
    per-day totals to equal the batch pipeline's view of the same files.
    (Pre-allocation metrics: the allocator's stream form and its stock
    carry are covered in test_stateful_allocation_carries_stock_across
    _batches; daily money needs allocation and is batch-validated in
    test_candy_golden.)"""
    from pyspark.sql import functions as F

    from candyspark.schemas import TRANSACTIONS_RAW

    src = "/root/reference/data/dataset_32"
    stream = (
        spark.readStream.schema(TRANSACTIONS_RAW)
        .option("multiLine", "true")
        .option("maxFilesPerTrigger", 1)
        .json(f"{src}/transactions_*.json")
    )

    def daily(df):
        items = df.select(
            F.to_timestamp("timestamp").alias("ts"),
            F.explode("items").alias("item"),
        ).filter(F.col("item.qty").isNotNull())
        return items.withWatermark("ts", "1 day").groupBy(
            F.window("ts", "1 day").alias("w")
        ).agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("item.qty").cast("bigint")).alias("total_qty"),
        )

    got = {
        r["w"]["start"].date().isoformat(): (r["n_items"], r["total_qty"])
        for r in drain(daily(stream), "complete", str(tmp_path / "ckpt")).collect()
    }

    batch = (
        spark.read.schema(TRANSACTIONS_RAW)
        .option("multiLine", "true")
        .json(f"{src}/transactions_*.json")
        .select(F.to_date(F.to_timestamp("timestamp")).alias("day"), F.explode("items").alias("item"))
        .filter(F.col("item.qty").isNotNull())
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("item.qty").cast("bigint")).alias("total_qty"),
        )
        .collect()
    )
    want = {r["day"].isoformat(): (r["n_items"], r["total_qty"]) for r in batch}
    assert got == want and len(got) == 10


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """Append-mode windowed aggregation must DROP events that arrive after
    the watermark has passed their window (the bounded-state contract: at
    100 TB, keeping every window open forever IS the OOM). Run 1 advances
    the watermark far past an early window; run 2 (same checkpoint)
    delivers a straggler into that closed window plus a fresh event — the
    straggler must not appear in, or reopen, the emitted windows."""
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def land(rows, tag):
        stage = str(tmp_path / f"stage_{tag}")
        spark.createDataFrame(rows, EVENTS).coalesce(1).write.parquet(stage)
        (part,) = _glob.glob(_os.path.join(stage, "part-*.parquet"))
        _os.rename(part, str(src / f"{tag}.parquet"))

    def drain():
        agg = (
            spark.readStream.schema(EVENTS)
            .parquet(str(src))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    t0 = dt.datetime(2024, 3, 1, 0, 30, 0)
    far = dt.datetime(2024, 3, 1, 12, 30, 0)  # watermark → 11:30, window [0:00,1:00) closed
    land(
        [(1, t0, 10, "click", 1.0, "{}"), (2, far, 11, "view", 2.0, "{}")],
        "b0",
    )
    drain()
    emitted1 = {r["ws"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert emitted1.get(dt.datetime(2024, 3, 1, 0, 0, 0)) == 1  # closed + emitted

    # straggler into the closed 0:00 window + a fresh later event
    later = dt.datetime(2024, 3, 1, 13, 45, 0)
    land(
        [(3, t0, 12, "error", 3.0, "{}"), (4, later, 13, "view", 4.0, "{}")],
        "b1",
    )
    drain()
    emitted2 = {r["ws"]: r["n"] for r in spark.read.parquet(out).collect()}
    # the closed window's count did NOT change and was not re-emitted higher
    assert emitted2[dt.datetime(2024, 3, 1, 0, 0, 0)] == 1


def test_foreach_batch_merge_upsert_and_replay_fence(spark, tmp_path):
    """The idempotent foreachBatch UPSERT sink: keyed merge keeps the
    latest version per key across restarts of the same checkpoint, and a
    replayed batchId (crash between sink commit and checkpoint commit) is
    fenced — running the sink body again with an already-committed id must
    change nothing."""
    import glob as _glob
    import os as _os

    from candyspark.streaming.stream import merged_table_path, run_foreach_batch_merge

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def land(rows, tag):
        stage = str(tmp_path / f"stage_{tag}")
        spark.createDataFrame(rows, EVENTS).coalesce(1).write.parquet(stage)
        (part,) = _glob.glob(_os.path.join(stage, "part-*.parquet"))
        _os.rename(part, str(src / f"{tag}.parquet"))

    ts0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    ts1 = dt.datetime(2024, 3, 1, 13, 0, 0)
    # batch 0: users 10, 11
    land([(1, ts0, 10, "click", 1.0, "{}"), (2, ts0, 11, "view", 2.0, "{}")], "b0")
    stream = spark.readStream.schema(EVENTS).parquet(str(src))
    run_foreach_batch_merge(stream, out, ["user_id"], "ts", ckpt)
    t = {r["user_id"]: r for r in spark.read.parquet(merged_table_path(out)).collect()}
    assert set(t) == {10, 11} and t[10]["event_id"] == 1

    # batch 1 (same checkpoint): newer row for user 10, new user 12
    land([(3, ts1, 10, "purchase", 5.0, "{}"), (4, ts0, 12, "view", 1.0, "{}")], "b1")
    stream = spark.readStream.schema(EVENTS).parquet(str(src))
    run_foreach_batch_merge(stream, out, ["user_id"], "ts", ckpt)
    t = {r["user_id"]: r for r in spark.read.parquet(merged_table_path(out)).collect()}
    assert set(t) == {10, 11, 12}
    assert t[10]["event_id"] == 3 and t[10]["event_type"] == "purchase"  # upserted

    # replay fence: re-running an availableNow drain on the SAME checkpoint
    # with no new files must leave the fence and the table untouched
    with open(out + "/_last_committed_batch") as f:
        fence_before = f.read()
    stream = spark.readStream.schema(EVENTS).parquet(str(src))
    run_foreach_batch_merge(stream, out, ["user_id"], "ts", ckpt)
    with open(out + "/_last_committed_batch") as f:
        assert f.read() == fence_before
    t2 = {
        r["user_id"]: r["event_id"]
        for r in spark.read.parquet(merged_table_path(out)).collect()
    }
    assert t2 == {u: r["event_id"] for u, r in t.items()}
    # versioned publish: exactly one live version remains after pruning
    import glob as _g

    assert len(_g.glob(out + "/data_v*")) == 1


def test_streaming_cms_merges_across_batches(spark, tmp_path):
    """The CMS cell grid must accumulate across micro-batches (complete
    mode: per-batch partials merge by cell-wise sum — the sketch's
    mergeability, actually exercised over TWO batches) and equal the batch
    aggregate over the union."""
    import glob as _glob
    import os as _os

    from candyspark.streaming.stream import streaming_cms_cells

    ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    batch1 = [(i, ts, i % 5, "click", 1.0, "{}") for i in range(20)]
    batch2 = [(100 + i, ts, i % 3, "view", 1.0, "{}") for i in range(15)]
    src = tmp_path / "events"
    src.mkdir()
    for i, rows in enumerate([batch1, batch2]):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, EVENTS).coalesce(1).write.parquet(stage)
        (part,) = _glob.glob(_os.path.join(stage, "part-*.parquet"))
        dest = str(src / f"b{i}.parquet")
        _os.rename(part, dest)
        _os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = streaming_cms_cells(
        spark.readStream.schema(EVENTS).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    assert stream.isStreaming
    got = {
        (r["r"], r["b"]): r["cnt"]
        for r in drain(stream, "complete", str(tmp_path / "ckpt")).collect()
    }
    # batch twin: the same expressions run on a batch frame over the union
    both = spark.createDataFrame(batch1 + batch2, EVENTS)
    expect = {
        (r["r"], r["b"]): r["cnt"] for r in streaming_cms_cells(both).collect()
    }
    assert got == expect


def test_streaming_topk_counters_accumulate_across_batches(spark, tmp_path):
    """The leaderboard counters must ACCUMULATE across micro-batches (the
    complete-mode state store, not per-batch counts): user 10 appears in
    both batches and must total 3 events / 2 purchases."""
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F

    ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    batch1 = [
        (1, ts, 10, "purchase", 1.0, "{}"),
        (2, ts, 10, "click", 2.0, "{}"),
        (3, ts, 11, "view", 3.0, "{}"),
    ]
    batch2 = [
        (4, ts, 10, "purchase", 4.0, "{}"),
        (5, ts, 12, "error", 5.0, "{}"),
    ]
    src = tmp_path / "events"
    src.mkdir()
    for i, rows in enumerate([batch1, batch2]):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, EVENTS).coalesce(1).write.parquet(stage)
        (part,) = _glob.glob(os.path.join(stage, "part-*.parquet"))
        dest = str(src / f"b{i}.parquet")
        _os.rename(part, dest)
        _os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = spark.readStream.schema(EVENTS).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    counts = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
    )
    got = {r.user_id: (r.n_events, r.n_purchases)
           for r in drain(counts, "complete", str(tmp_path / "ckpt")).collect()}
    assert got == {10: (3, 2), 11: (1, 0), 12: (1, 0)}


def test_rocksdb_state_store(spark, tmp_path):
    """The 100-TB state posture (stream.STATE_STORE docstring): the same
    stateful drain runs under RocksDBStateStoreProvider with changelog
    checkpointing and produces the identical result, and the session confs
    are restored afterwards (batch queries planned later keep the default
    provider)."""
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_src")
    save_parquet(events, src)

    stream = streaming_tumbling_agg(read_events_stream(spark, src))
    got = drain(
        stream, "update", str(tmp_path / "ckpt_rocks"), state_store="rocksdb"
    ).toPandas()
    want = tumbling_agg(events).toPandas()
    key = ["window_start", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)
    # the provider conf must not leak into the session
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", "default")
        == "default"
    )
    # and the RocksDB instance really ran: its working dir exists under the
    # checkpoint's state directory only when the provider engaged
    import glob as _glob
    sst = _glob.glob(str(tmp_path / "ckpt_rocks" / "state" / "**" / "*.changelog"),
                     recursive=True)
    zips = _glob.glob(str(tmp_path / "ckpt_rocks" / "state" / "**" / "*.zip"),
                      recursive=True)
    assert sst or zips, "no RocksDB changelog/snapshot files under the checkpoint"
