"""Stage bookkeeping shared by the pipelines and the graph loops: job
labels (what the UI, the event log and ``perfbench.trace`` group jobs
by), observed row counts, and releasing a result's cache on failure."""

from __future__ import annotations

import contextlib
from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame, Observation, SparkSession


@contextlib.contextmanager
def labelled(spark: SparkSession, label: str) -> Iterator[None]:
    """Run the block's jobs under the job description ``label``; the
    caller's description comes back afterwards, also on an error."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setJobDescription(previous)


def observed(df: DataFrame, *aggs: Column) -> tuple[DataFrame, Callable[[], dict]]:
    """``df`` with ``aggs`` observed (counted while a later action
    streams the rows, at no job of its own), and a reader of their
    values to call after that action. When Spark delivers an empty
    metrics row (seen on the incremental corpus chain, whose plans embed
    an earlier run's observed nodes), the reader computes ``aggs`` over
    the observed frame instead; any other error propagates. Anonymous:
    a fixed name collides when one run's output feeds another's plan."""
    obs = Observation()
    out = df.observe(obs, *aggs)

    def read() -> dict:
        if obs._jo.getRow().length() == 0:
            return out.agg(*aggs).first().asDict()
        return obs.get

    return out, read


def on_error(stack: contextlib.ExitStack, release: Callable[[], object]) -> None:
    """Call ``release`` only if ``stack`` unwinds on an exception."""

    def _exit(exc_type, exc, tb) -> bool:
        if exc_type is not None:
            release()
        return False

    stack.push(_exit)
