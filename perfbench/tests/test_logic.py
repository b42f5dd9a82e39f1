"""The benchmark's own logic: statistics, status-store aggregation,
spans, seeded inputs and the BENCHMARK.json contract. No Spark."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import types

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import run, stats, trace
from perfbench.trace import JobRecord, StageRecord

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --- percentile rule --------------------------------------------------------


@pytest.mark.parametrize(
    "n, pct",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_is_highest_rung_with_ten_samples_beyond(n, pct):
    got = stats.tail_percentile([float(i) for i in range(n)])
    if pct is None:
        assert got is None
    else:
        assert got[0] == pct
        beyond = sum(1 for i in range(n) if i > got[1])
        assert beyond >= stats.MIN_BEYOND


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = list(rng.random(37))
    for p in (0, 10, 50, 75, 90, 100):
        assert stats.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


# --- seeded request schedule ------------------------------------------------


def test_schedule_is_seeded_and_balanced():
    kinds = ["a", "b", "c", "d", "e"]
    s1 = stats.request_schedule(kinds, 7, 4)
    assert s1 == stats.request_schedule(kinds, 7, 4)
    assert s1 != stats.request_schedule(kinds, 8, 4)
    for p in range(4):
        assert sorted(s1[p * 5 : (p + 1) * 5]) == kinds


# --- status-store aggregation -----------------------------------------------


def _stage(sid, run_s=1.0, cpu_s=0.5, tasks=4, failed=0, sw=0, sr=0):
    return StageRecord(sid, run_s, cpu_s, tasks, failed,
                       shuffle_write_b=sw, shuffle_read_b=sr)


JOBS = [
    JobRecord(0, "corpus: minhash+cc+survivors", 0.0, 1.0,
              [_stage(0, sw=2 * 1024 * 1024), _stage(1, failed=1)]),
    JobRecord(1, "corpus: minhash+cc+survivors", 0.5, 2.0, [_stage(2)]),
    JobRecord(2, None, 3.0, 3.5, [_stage(3, tasks=2)]),
    JobRecord(3, "corpus: pack totals", 4.0, 4.5, []),
]


def test_union_seconds():
    assert trace.union_seconds([]) == 0.0
    assert trace.union_seconds([(0, 1), (0.5, 2), (3, 3.5)]) == pytest.approx(2.5)


@pytest.mark.parametrize(
    "label, name",
    [("corpus: minhash+cc+survivors", "corpus.minhash_cc_survivors"),
     ("houses: serving write (jdbc)", "houses.serving_write_jdbc"),
     ("media: 4b phash pairs + cc", "media.4b_phash_pairs_cc"),
     ("ad hoc", "registry.ad_hoc"),
     (None, "registry.unlabelled")],
)
def test_label_metric_names(label, name):
    assert trace.label_metric_name(label, "registry") == name


def test_by_label_groups_jobs():
    got = trace.by_label(JOBS, "corpus")
    assert set(got) == {"corpus.minhash_cc_survivors", "corpus.unlabelled", "corpus.pack_totals"}
    mh = got["corpus.minhash_cc_survivors"]
    assert mh["wall_s"] == pytest.approx(2.0)  # overlapping jobs counted once
    assert (mh["jobs"], mh["tasks"]) == (2, 12)
    assert mh["task_cpu_s"] == pytest.approx(1.5)
    assert mh["shuffle_write_mb"] == pytest.approx(2.0)
    assert got["corpus.unlabelled"]["jobs"] == 1


def test_op_spark_metrics():
    m = trace.op_spark_metrics(JOBS, wall_s=5.0, cores=4)
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (4, 4, 14)
    assert m["spark.exec_s"] == pytest.approx(3.0)
    assert m["spark.driver_gap_s"] == pytest.approx(2.0)
    assert m["spark.unlabelled_jobs"] == 1
    assert m["spark.core_busy_frac"] == pytest.approx(4.0 / 20.0)
    assert m["spark.task_retry_ratio"] == pytest.approx(1 / 14)


# --- spans -------------------------------------------------------------------


def test_spans_nest_and_sum_per_op():
    tr = trace.Tracer(True)
    with tr.span("setup"):
        pass
    for op in range(3):
        tr.op_id = op
        with tr.span("op"):
            if op != 1:
                with tr.span("inner"):
                    pass
        tr.op_id = None
    inner = tr.durations("inner")
    assert [s.op_id for s in inner] == [0, 2]
    assert all(tr.spans[s.parent].name == "op" for s in inner)
    totals = tr.per_op_totals("inner", range(3))
    assert len(totals) == 3 and totals[1] == 0.0
    assert tr.setup_total("setup") >= 0.0 and tr.setup_total("inner") == 0.0


def test_disabled_tracer_records_nothing():
    tr = trace.Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_instrument_wraps_every_binding_and_restores():
    base = types.ModuleType("geoestate_etl_spark._perfbench_base")
    user = types.ModuleType("geoestate_etl_spark._perfbench_user")

    def f(x):
        return x + 1

    base.f = user.f = f
    sys.modules[base.__name__] = base
    sys.modules[user.__name__] = user
    try:
        tr = trace.Tracer(True)
        undo = trace.instrument(tr, [(base.__name__, "f", "f.call_s")])
        assert user.f(1) == 2 and base.f(2) == 3
        assert len(tr.durations("f.call_s")) == 2
        trace.restore(undo)
        assert base.f is f and user.f is f
    finally:
        del sys.modules[base.__name__], sys.modules[user.__name__]


# --- seeded inputs ------------------------------------------------------------


def test_serving_tables_are_a_function_of_the_seed(tmp_path):
    from perfbench import gen

    a = gen.gen_serving_tables(str(tmp_path / "a"), 3)
    b = gen.gen_serving_tables(str(tmp_path / "b"), 3)
    c = gen.gen_serving_tables(str(tmp_path / "c"), 4)
    for t in ("orders", "lineitem", "events"):
        ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
        assert ta.equals(pq.read_table(os.path.join(b, f"{t}.parquet")))
        assert not ta.equals(pq.read_table(os.path.join(c, f"{t}.parquet")))


# --- contract ------------------------------------------------------------------


def test_benchmark_json_matches_the_code():
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_refuses_to_run_outside_a_checkout(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "perfbench", "run.py"),
         "--workload", "houses_etl", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_tree_cpu_seconds_counts_children():
    before = trace.tree_cpu_seconds(os.getpid())
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt=time.process_time()\nwhile time.process_time()-t<0.5: pass\ntime.sleep(2)"]
    )
    try:
        time.sleep(1.2)
        assert trace.tree_cpu_seconds(os.getpid()) - before >= 0.4
    finally:
        child.kill()
        child.wait(timeout=10)
