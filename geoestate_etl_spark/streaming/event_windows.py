"""Event-time windowing (SURVEY §2.9 extension surface).

The reference has no streaming; the testdata ``events`` table
(event_id, ts, user_id, event_type, value, props) is the declared
surface for tumbling / sliding / session windows. Each operator is a
pure batch DataFrame fn (``F.window`` / ``F.session_window`` work in
batch mode and are exactly the Structured Streaming semantics), so the
DuckDB oracle can verify them.

Scale: windowed groupBys shuffle on (window, keys) — same partial-agg
story as any groupBy. Session windows merge per key; the shuffle key
is the grouping key, state is bounded by the watermark in streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame, width: str = "1 hour", keys: list[str] | None = None
) -> DataFrame:
    """Tumbling event-time window counts + value sum."""
    keys = keys if keys is not None else ["event_type"]
    return (
        events.groupBy(F.window("ts", width).alias("w"), *keys)
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            # exact integer variant for hash-gated consumers: a rounded
            # double sum is engine-dependent on .xx5 shortest reprs
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"), *keys, "cnt", "sum_value",
            "sum_cents",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding windows: each event lands in width/slide windows."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt")
    )


def session_windows(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Per-user session windows with a fixed inactivity gap.

    ``F.session_window`` merges overlapping [ts, ts+gap) intervals per
    key — identical semantics to the streaming stateful operator.
    Output: user_id, session_start, session end (last event + gap), count.
    """
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
