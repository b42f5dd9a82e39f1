"""E2E pipeline parity tests on the dirty houses fixture: exact
valid/invalid split, dense renumbering, canonical schema, analytics
cross-checked against a pure-Python recompute of the same fixture."""

from __future__ import annotations

import statistics

import pytest

from geoestate_etl_spark.plans.pipeline import run_pipeline
from geoestate_etl_spark.schema import HOUSES_SCHEMA
from tests.houses_fixture import generate
from tests.pipeline_trace import tracing


@pytest.fixture(scope="module")
def fixture(tmp_path_factory):
    p = tmp_path_factory.mktemp("houses") / "houses.csv"
    return generate(str(p), n_rows=2000, seed=42)


@pytest.fixture(scope="module")
def traced_result(spark, fixture, tmp_path_factory):
    serving = tmp_path_factory.mktemp("serving") / "houses_table"
    with tracing(spark) as trace:
        res = run_pipeline(spark, fixture.path, serving_path=str(serving))
    return res, trace


@pytest.fixture(scope="module")
def result(traced_result):
    return traced_result[0]


def test_valid_invalid_split(result, fixture):
    assert result.n_valid == fixture.n_valid
    assert result.n_invalid == fixture.n_rows - fixture.n_valid


def test_renumber_dense(result, fixture):
    ids = [r.house_id for r in result.clean.select("house_id").collect()]
    assert sorted(ids) == list(range(1, fixture.n_valid + 1))


def test_canonical_schema(result):
    assert result.clean.schema == HOUSES_SCHEMA


def test_renumber_order_preserved(result, fixture):
    # dense id must follow original house_id order (reference W1)
    rows = result.clean.select("house_id", "latitude", "longitude").collect()
    by_new = {r.house_id: (r.latitude, r.longitude) for r in rows}
    expected = sorted(fixture.valid_rows, key=lambda d: d["orig_house_id"])
    for new_id, exp in zip(range(1, len(expected) + 1), expected):
        assert by_new[new_id] == (exp["latitude"], exp["longitude"])


def test_quirk_q1_csid(result, fixture):
    # float-formatted "NN.0" digit-strips to NN0 (reference semantics)
    got = {r.communal_service_id for r in result.clean.select("communal_service_id").distinct().collect()}
    exp = {d["communal_service_id"] for d in fixture.valid_rows}
    assert got == exp
    assert all(v % 10 == 0 for v in got)  # every value ends in the stripped 0


def test_year_stats(result, fixture):
    years = [d["year"] for d in fixture.valid_rows]
    row = result.year_stats.collect()[0]
    assert row.avg_year == round(sum(years) / len(years), 2)
    assert row.median_year == statistics.median(years)


def test_top_regions(result, fixture):
    from collections import Counter

    counts = Counter(d["region"] for d in fixture.valid_rows)
    exp = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r.region, r.cnt) for r in result.top_regions.collect()]
    assert got == exp


def test_min_max_square(result, fixture):
    mx: dict[str, float] = {}
    mn: dict[str, float] = {}
    for d in fixture.valid_rows:
        r = d["region"]
        mx[r] = max(mx.get(r, -1e18), d["square"])
        mn[r] = min(mn.get(r, 1e18), d["square"])
    for row in result.min_max_square.collect():
        assert row.max_square == pytest.approx(mx[row.region])
        assert row.min_square == pytest.approx(mn[row.region])


def test_decade_histogram(result, fixture):
    from collections import Counter

    dec = Counter((d["year"] // 10) * 10 for d in fixture.valid_rows)
    got = {r.decade: r.cnt for r in result.decade_histogram.collect()}
    assert got == dict(dec)


def test_top25(result, fixture):
    exp = sorted(
        (d for d in fixture.valid_rows if d["square"] > 60.0),
        key=lambda d: -d["square"],
    )[:25]
    got = result.top25_by_square.collect()
    assert [pytest.approx(r.square) for r in got] == [d["square"] for d in exp]
    assert all(r.maintenance_year.month == 1 and r.maintenance_year.day == 1 for r in got)


def test_serving_write_readback(spark, result, fixture, tmp_path_factory):
    # the serving table was written sorted-by-key, partition-parallel
    out = tmp_path_factory.getbasetemp() / "serving0" / "houses_table"
    df = spark.read.parquet(str(out))
    assert df.count() == fixture.n_valid
    assert df.schema == HOUSES_SCHEMA


def test_multi_file_ingest_parallel_parse_identical_results(
    spark, fixture, result, tmp_path_factory
):
    """VERDICT r7 #1: multiLine CSV is unsplittable — one parse task
    per FILE — so the single-file 330k feed is a measured scan cliff.
    The claim 'at real scale the input is many files' must be
    demonstrated: the SAME feed sharded into 8 files parses with
    8-way parallelism and yields byte-identical pipeline results
    (valid/invalid split, top-25, analytics)."""
    from geoestate_etl_spark.plans.pipeline import load_stage
    from tests.houses_fixture import generate_sharded

    many = generate_sharded(
        str(tmp_path_factory.mktemp("houses_many")), n_rows=2000, seed=42, n_files=8
    )
    assert many.n_valid == fixture.n_valid

    # parse parallelism IS the file count (multiLine ⇒ unsplittable)
    assert load_stage(spark, fixture.path).rdd.getNumPartitions() == 1
    assert load_stage(spark, many.path).rdd.getNumPartitions() == 8

    r2 = run_pipeline(spark, many.path)
    assert (r2.n_valid, r2.n_invalid) == (result.n_valid, result.n_invalid)
    assert (
        r2.top25_by_square.collect() == result.top25_by_square.collect()
    )
    assert sorted(map(tuple, r2.min_max_square.collect())) == sorted(
        map(tuple, result.min_max_square.collect())
    )
    assert r2.year_stats.collect() == result.year_stats.collect()


def test_run_leaves_no_label_and_stays_in_job_budget(traced_result):
    """The fixture run clears its labels, keeps the session conf, keeps
    only the result's cache and the validation cache behind it, and
    launches no more jobs (nor unlabelled jobs) than the ceilings
    measured before the stage helpers replaced the hand-set labels."""
    _, trace = traced_result
    trace.assert_no_state_left()
    assert len(trace.new_rdds) == 2  # clean + the validation cache
    assert trace.jobs <= 12
    assert trace.unlabelled_jobs <= 2


def test_serving_write_fault_leaves_nothing_behind(spark, fixture, tmp_path, monkeypatch):
    """A failing serving write propagates and leaves no label, conf
    change or cache behind. The input is a copy: Spark keys caches by
    plan, so a run over the fixture's own file would share (and
    release) the module result's caches."""
    import shutil

    import geoestate_etl_spark.plans.pipeline as P

    def boom(*args, **kwargs):
        raise RuntimeError("injected serving fault")

    path = shutil.copy(fixture.path, tmp_path / "houses.csv")
    monkeypatch.setattr(P, "write_sorted_table", boom)
    with tracing(spark) as trace, pytest.raises(RuntimeError, match="injected"):
        run_pipeline(spark, str(path), serving_path=str(tmp_path / "t"))
    trace.assert_no_state_left()
    assert not trace.new_rdds
