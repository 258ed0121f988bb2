"""Event-time windowed aggregation (SURVEY.md §2.11 extension: the reference
is strictly batch — its 'daily' dimension is a Python loop; README names
streaming as future work).

Batch forms here use ``F.window`` / ``F.session_window`` over the ``events``
table — the same logical operators Structured Streaming executes
incrementally; ``candyspark.streaming.stream`` wires the identical
aggregation into readStream/writeStream with a watermark. Money-style sums
use the decimal discipline (see plans/relational.py) for oracle parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: tumbling and sliding window width, the sliding step, and the inactivity
#: gap that closes a session; the oracle SQL buckets by the same intervals
WINDOW = "1 hour"
SLIDE = "30 minutes"
SESSION_GAP = "30 minutes"


def _dec(c: str):  # events.value has 2-dp synthetic values
    return F.col(c).cast("decimal(12,2)")


def tumbling_agg(events: DataFrame) -> DataFrame:
    """Tumbling ``WINDOW`` event-time windows per event_type: count +
    sum(value). Partial aggregation makes the shuffle one row per
    (window, type) task."""
    return (
        events.groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("num_events"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "num_events", "total_value")
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    """Sliding windows (each event lands in WINDOW/SLIDE windows)."""
    return (
        events.groupBy(F.window("ts", WINDOW, SLIDE).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("num_events"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "num_events", "total_value")
    )


def session_agg(events: DataFrame) -> DataFrame:
    """Per-user session windows (gap-based): sessions close after
    ``SESSION_GAP`` of inactivity. The batch twin of streaming
    sessionization."""
    return (
        events.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("num_events"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "num_events",
            "total_value",
        )
    )


def json_props_extract(events: DataFrame) -> DataFrame:
    """Scalar JSON extraction from the props payload (§2.10 notes the
    reference has no JSON functions; any real event pipeline needs them)."""
    return events.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )
