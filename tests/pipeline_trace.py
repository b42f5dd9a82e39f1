"""Leak and job accounting around one pipeline call, read through
``perfbench.trace``: the jobs the call launched (total and unlabelled),
the cached RDDs it added, and the state it left behind (session conf,
job label)."""

from __future__ import annotations

import contextlib
from collections.abc import Iterator
from dataclasses import dataclass, field

from perfbench.trace import conf_snapshot, last_job_id, leak_counts, read_jobs


def persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs())


@dataclass
class CallTrace:
    rdds_before: set[int]
    rdds_after: set[int] = field(default_factory=set)
    leaks: dict[str, int] = field(default_factory=dict)
    jobs: int = 0
    unlabelled_jobs: int = 0

    @property
    def new_rdds(self) -> set[int]:
        """Cached RDDs the block registered and left. A leak shows
        here, not as a changed set: Spark's context cleaner may drop
        RDDs of earlier, garbage-collected frames during the block."""
        return self.rdds_after - self.rdds_before

    def assert_no_state_left(self) -> None:
        """No job label still set and the session conf as it was."""
        assert self.leaks["session.leaked_job_desc"] == 0, self
        assert self.leaks["session.leaked_conf_keys"] == 0, self


@contextlib.contextmanager
def tracing(spark) -> Iterator[CallTrace]:
    """Trace the block; the trace is filled in when the block exits,
    also when it raises."""
    conf = conf_snapshot(spark)
    first_job = last_job_id(spark)
    trace = CallTrace(rdds_before=persistent_rdds(spark))
    try:
        yield trace
    finally:
        jobs = read_jobs(spark, first_job, set())
        trace.rdds_after = persistent_rdds(spark)
        trace.leaks = leak_counts(spark, conf)
        trace.jobs = len(jobs)
        trace.unlabelled_jobs = sum(j.label is None for j in jobs)
