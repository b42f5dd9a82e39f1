"""Time-series resample + gap fill (operators/timeseries.py)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from geoestate_etl_spark.operators.timeseries import (
    forward_fill,
    resample,
    time_grid,
)

T0 = datetime.datetime(2026, 1, 1, 0, 0, 0)


def _ts(minutes, seconds=0):
    return T0 + datetime.timedelta(minutes=minutes, seconds=seconds)


def _obs(spark):
    rows = [
        # key "a": observations at 00:00:10, 00:02:30, 00:02:45, 00:05:05
        ("a", _ts(0, 10), 1.0),
        ("a", _ts(2, 30), 2.0),
        ("a", _ts(2, 45), 3.0),   # same tick as 2:30 -> later wins
        ("a", _ts(5, 5), 4.0),
        # key "b": a single observation
        ("b", _ts(1, 0), 9.0),
    ]
    return spark.createDataFrame(rows, ["k", "ts", "v"])


def test_time_grid_spans_each_key(spark):
    grid = time_grid(_obs(spark), "k", "ts", 60)
    by_key = {}
    for r in grid.collect():
        by_key.setdefault(r.k, []).append(r.tick)
    assert len(by_key["a"]) == 6  # minutes 0..5 inclusive
    assert len(by_key["b"]) == 1
    assert min(by_key["a"]) == T0 and max(by_key["a"]) == _ts(5)


def test_resample_latest_wins_and_gaps_are_null(spark):
    out = resample(_obs(spark), "k", "ts", ["v"], 60)
    a = {r.tick: r.v for r in out.filter("k = 'a'").collect()}
    assert a[T0] == 1.0
    assert a[_ts(2)] == 3.0          # 2:45 beats 2:30 within the tick
    assert a[_ts(5)] == 4.0
    assert a[_ts(1)] is None and a[_ts(3)] is None and a[_ts(4)] is None


def test_forward_fill_carries_last_observation(spark):
    out = forward_fill(
        resample(_obs(spark), "k", "ts", ["v"], 60), "k", "tick", ["v"]
    )
    a = {r.tick: r.v for r in out.filter("k = 'a'").collect()}
    assert [a[_ts(m)] for m in range(6)] == [1.0, 1.0, 3.0, 3.0, 3.0, 4.0]
    # other keys are untouched by a's fills
    assert {r.v for r in out.filter("k = 'b'").collect()} == {9.0}


def test_forward_fill_leading_nulls_stay_null(spark):
    df = spark.createDataFrame(
        [("a", 1, None), ("a", 2, 5.0), ("a", 3, None)],
        ["k", "o", "v"],
    )
    got = {r.o: r.v for r in forward_fill(df, "k", "o", ["v"]).collect()}
    assert got == {1: None, 2: 5.0, 3: 5.0}


def test_resample_matches_duckdb_oracle(spark):
    """Cross-engine parity on the full resample+fill composition."""
    import duckdb

    out = forward_fill(
        resample(_obs(spark), "k", "ts", ["v"], 60), "k", "tick", ["v"]
    )
    got = sorted((r.k, str(r.tick), r.v) for r in out.collect())
    con = duckdb.connect()
    want = sorted(
        (k, str(t), v)
        for k, t, v in con.execute(
            """
            WITH obs(k, ts, v) AS (VALUES
              ('a', TIMESTAMP '2026-01-01 00:00:10', 1.0),
              ('a', TIMESTAMP '2026-01-01 00:02:30', 2.0),
              ('a', TIMESTAMP '2026-01-01 00:02:45', 3.0),
              ('a', TIMESTAMP '2026-01-01 00:05:05', 4.0),
              ('b', TIMESTAMP '2026-01-01 00:01:00', 9.0)),
            ticked AS (SELECT k, time_bucket(INTERVAL 60 SECONDS, ts) AS tick,
                       max_by(v, ts) AS v FROM obs GROUP BY k, tick),
            grid AS (SELECT k, unnest(generate_series(min(tick), max(tick),
                       INTERVAL 60 SECONDS)) AS tick FROM ticked GROUP BY k),
            joined AS (SELECT g.k, g.tick, t.v FROM grid g
                       LEFT JOIN ticked t USING (k, tick))
            SELECT k, tick,
                   last_value(v IGNORE NULLS) OVER (
                     PARTITION BY k ORDER BY tick
                     ROWS UNBOUNDED PRECEDING) AS v
            FROM joined
            """
        ).fetchall()
    )
    assert got == want


# --- generative pandas parity ------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_VALS = st.lists(
    st.one_of(st.none(), st.floats(min_value=-100, max_value=100, allow_nan=False)),
    min_size=1,
    max_size=12,
)


@settings(max_examples=5, deadline=None)
@given(a=_VALS, b=_VALS)
def test_forward_fill_matches_pandas_ffill(spark, a, b):
    import pandas as pd

    from geoestate_etl_spark.operators.timeseries import forward_fill

    rows = [("a", i, v) for i, v in enumerate(a)] + [
        ("b", i, v) for i, v in enumerate(b)
    ]
    df = spark.createDataFrame(rows, "k string, o long, v double")
    got = {
        (r.k, r.o): r.v for r in forward_fill(df, "k", "o", ["v"]).collect()
    }
    pdf = pd.DataFrame(rows, columns=["k", "o", "v"]).sort_values(["k", "o"])
    pdf["v"] = pdf.groupby("k")["v"].ffill()
    for _, r in pdf.iterrows():
        want = None if pd.isna(r["v"]) else r["v"]
        assert got[(r["k"], r["o"])] == want
