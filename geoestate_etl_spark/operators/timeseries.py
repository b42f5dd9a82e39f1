"""Time-series regularization: resample onto a fixed grid + gap fill.

Sensor/market/event feeds arrive irregular and gappy; models and
window aggregates want a regular grid. The composition here is the
standard one:

- ``time_grid`` — per key, the complete tick grid from the key's own
  first to last observation (``sequence`` + ``explode``: the grid is
  generated, never read, and its row count is bounded by
  span/interval per key).
- ``resample`` — observations land on their grid tick (floor to
  interval, last-observation-wins within a tick by a deterministic
  tiebreak), left-joined onto the grid so missing ticks surface as
  NULL rows.
- ``forward_fill`` — NULLs take the most recent non-null value via
  ``last(ignorenulls=True)`` over a per-key ordered window. The
  window partitions by key — per-key state, distributed across keys,
  never a global single-partition window (the engine's W1 lesson).

Scale note: a key's whole series lands in one task inside the window
— the same constraint every per-key ordered computation has (as-of
join, SCD2). Series longer than a task's memory get range-chunked by
time with an overlap carry, which composes from these same pieces.

The reference has no time-series surface (year granularity only,
``dags/main.py:269``); this extends the engine's temporal tier
(as-of join, SCD2 upsert, event windows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["time_grid", "resample", "forward_fill"]


def _tick(ts: Column, interval_s: int) -> Column:
    """Floor a timestamp to its grid tick (epoch-second arithmetic —
    integer division, exact)."""
    secs = ts.cast("long")
    return F.from_unixtime(
        (secs - F.pmod(secs, F.lit(interval_s))).cast("long")
    ).cast("timestamp")


def time_grid(
    df: DataFrame, key: str, ts_col: str, interval_s: int
) -> DataFrame:
    """``(key, tick)`` — every ``interval_s`` tick from each key's
    first to last observation, inclusive."""
    spans = df.groupBy(key).agg(
        F.min(_tick(F.col(ts_col), interval_s)).alias("_lo"),
        F.max(_tick(F.col(ts_col), interval_s)).alias("_hi"),
    )
    return spans.select(
        key,
        F.explode(
            F.sequence(
                F.col("_lo"),
                F.col("_hi"),
                F.expr(f"INTERVAL {interval_s} SECONDS"),
            )
        ).alias("tick"),
    )


def resample(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_cols: list[str],
    interval_s: int,
) -> DataFrame:
    """Regularize onto the grid: one row per (key, tick); a tick's
    value is its LATEST observation (ties on timestamp break by the
    greatest value-struct — deterministic); unobserved ticks carry
    NULLs (fill them with :func:`forward_fill`)."""
    obs = df.select(
        key,
        _tick(F.col(ts_col), interval_s).alias("tick"),
        F.col(ts_col).alias("_ts"),
        *value_cols,
    )
    latest = obs.groupBy(key, "tick").agg(
        F.max(F.struct(F.col("_ts"), *[F.col(c) for c in value_cols])).alias("_w")
    )
    picked = latest.select(
        key, "tick", *[F.col("_w")[c].alias(c) for c in value_cols]
    )
    return time_grid(df, key, ts_col, interval_s).join(
        picked, [key, "tick"], "left"
    )


def forward_fill(
    df: DataFrame,
    key: str,
    order_col: str,
    value_cols: list[str],
) -> DataFrame:
    """Replace NULLs with the most recent non-null value per key, in
    ``order_col`` order (leading NULLs stay NULL — there is nothing
    to carry)."""
    w = (
        Window.partitionBy(key)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in value_cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out
