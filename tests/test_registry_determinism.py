"""Registry-wide execution determinism: every declared query must
produce the IDENTICAL row multiset when built and executed twice in
one session (sf0.001). This is the gate for the bug class r5 found in
the wild — per-execution range-boundary resampling emitting duplicate
ids — and for cache coupling (a query whose second run silently reads
another query's leftover state would differ or crash here). It also
pins that no query leaves session state behind: the conf as it was
and no job label set."""

from __future__ import annotations

import pytest

from geoestate_etl_spark.plans import all_queries
from tests.conftest import SF_SMOKE
from tests.pipeline_trace import tracing

SPECS = all_queries()


def _rows(spark, name):
    df = SPECS[name].fn(spark, SF_SMOKE)
    return sorted(map(str, (tuple(r) for r in df.collect())))


@pytest.mark.parametrize("name", sorted(SPECS))
def test_twice_identical(spark, name):
    first = _rows(spark, name)
    second = _rows(spark, name)
    assert first == second, (
        f"{name}: two executions in one session disagree "
        f"({len(first)} vs {len(second)} rows; first diff: "
        f"{next((a, b) for a, b in zip(first, second) if a != b) if len(first) == len(second) else 'row-count'})"
    )


def test_unwrapped_builder_builds_a_fresh_plan(spark):
    # the registry's prepared-plan cache is the only plan cache, so the
    # undecorated builder (``fn.__wrapped__``, what plan audits call to
    # bypass it) builds a new Dataset on every call
    build = SPECS["geo_distance_radius"].fn.__wrapped__
    assert build(spark, SF_SMOKE) is not build(spark, SF_SMOKE)


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_leaves_no_session_state(spark, name):
    # cached RDDs are left out: registry persists are deliberate
    # (one entry per distinct plan, reused across runs)
    with tracing(spark) as trace:
        SPECS[name].fn.__wrapped__(spark, SF_SMOKE).collect()
    trace.assert_no_state_left()
