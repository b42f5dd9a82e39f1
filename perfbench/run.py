"""Benchmark entry point.

    python3 perfbench/run.py --workload houses_etl --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. Generates the
workload's inputs from the seed, starts and warms a session, sets the
program up (together ``setup_s``), runs one closed-loop operation after
another for ``--seconds``, checks every output and prints one JSON
result as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics (spans, Spark
status-store records, leak counts) of a separate traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.getcwd()

#: files the benchmark imports from the checkout
REQUIRED = (
    "geoestate_etl_spark/__init__.py",
    "geoestate_etl_spark/plans/pipeline.py",
    "tests/houses_fixture.py",
    "tests/oracle_utils.py",
    "bench.py",
)

#: driver heap, well below the host memory the benchmark is sized for
DRIVER_MEM = "2g"

#: traced runs time every prepared-artifact lookup (builds on a miss)
PREPARED_SPAN = (
    ("geoestate_etl_spark.plans.prepared", "prepared_frame", "plans.prepared.build_s"),
)

END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("items_per_s", "1/s"),
    ("cpu_s_per_op", "s"),
    ("heap_retained_mb", "MB"),
)

_LABELS = ("houses.validate_counts", "houses.serving_write", "houses.unlabelled")
_LABEL_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count",
                "task_cpu_s": "s", "shuffle_write_mb": "MB"}

PER_LAYER = (
    ("peak_rss_mb", "MB"),
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("session.leaked_rdds", "count"),
    ("session.leaked_conf_keys", "count"),
    ("session.leaked_job_desc", "count"),
    ("plans.registry.build_s", "s"),
    ("plans.registry.call_s_p50", "s"),
    ("plans.registry.hit_ratio", "ratio"),
    ("plans.prepared.build_s", "s"),
    ("plans.prepared.written_mb", "MB"),
    ("spark.plan_s_p50", "s"),
    ("spark.plan_share", "ratio"),
    ("spark.exec_s_p50", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.driver_gap_s", "s"),
    ("spark.unlabelled_jobs", "count"),
    ("spark.task_cpu_s", "s"),
    ("spark.core_busy_frac", "ratio"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.input_mb", "MB"),
    ("spark.output_mb", "MB"),
    ("spark.task_retry_ratio", "ratio"),
    ("spark.spill_mb", "MB"),
    *((f"{lab}.{f}", u) for lab in _LABELS for f, u in _LABEL_UNITS.items()),
    ("sources.read_dirty_csv.call_s", "s"),
    ("plans.pipeline.validate_stage.call_s", "s"),
    ("sources.write_sorted_table.call_s", "s"),
    ("op_tail_s", "s"),
    ("op_tail_pct", "%"),
    ("failed_frac", "ratio"),
    ("trace.op_p50_s", "s"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> dict:
    """Pin the host config the engine reads and keep every file the
    run writes inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher too: temp files inside the
        # checkout and no perf-data file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    tempfile.tempdir = tmp
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "cpus": cpus,
        "mem_total_gb": round(mem_kb / 1024 / 1024, 2),
        "driver_mem": DRIVER_MEM,
        "python": platform.python_version(),
    }


def start_session():
    from geoestate_etl_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(ROOT, "spark-warehouse"),
        },
    )


def warm_up(spark) -> None:
    """Run a first job through the scheduler and codegen, so the first
    op does not pay for them."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n * 10).repartition(n).write.format("noop").mode("overwrite").save()


def stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


@dataclass
class Loop:
    """What the closed loop saw, one entry per op."""

    walls: list[float] = field(default_factory=list)
    items: list[int] = field(default_factory=list)
    oks: list[bool] = field(default_factory=list)
    spark: list[dict] = field(default_factory=list)  # traced: spark.* per op
    labels: list[dict] = field(default_factory=list)  # traced: per job label
    leaked_rdds: int = 0
    leaked_job_desc: int = 0


def closed_loop(wl, spark, seconds: float, tracer, conf_before: dict) -> Loop:
    """One op at a time until ``seconds`` have passed and the round in
    flight is done. Traced runs read each op's jobs from the status
    store and the state it left behind."""
    from perfbench import trace as T

    loop = Loop()
    cores = spark.sparkContext.defaultParallelism
    last_job = T.last_job_id(spark)
    seen_stages: set[int] = set()
    t_end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < t_end or i % wl.ops_per_round:
        tracer.op_id = i
        t_op = time.perf_counter()
        try:
            with tracer.span("op"):
                n, ok = wl.op(spark, i, tracer)
        except Exception:  # a failed op is counted, not fatal
            print(f"op {i} raised:", file=sys.stderr)
            traceback.print_exc()
            n, ok = 0, False
        wall = time.perf_counter() - t_op
        tracer.op_id = None
        loop.walls.append(wall)
        loop.items.append(n)
        loop.oks.append(ok)
        if tracer.enabled:
            jobs = T.read_jobs(spark, last_job, seen_stages)
            if jobs:
                last_job = jobs[-1].job_id
            loop.spark.append(T.op_spark_metrics(jobs, wall, cores))
            loop.labels.append(T.by_label(jobs, wl.label_prefix))
            leaks = T.leak_counts(spark, conf_before)
            loop.leaked_rdds = max(loop.leaked_rdds, leaks["session.leaked_rdds"])
            loop.leaked_job_desc += leaks["session.leaked_job_desc"]
        wl.after_op(spark)
        i += 1
    return loop


def run(args) -> tuple[dict, dict]:
    """One benchmark run; returns the result (metrics as plain
    numbers) and the host record."""
    import bench

    from perfbench import trace as T
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work")
    host = configure_env(work)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=work)
    wl = WORKLOADS[args.workload](run_dir, args.seed)
    t_gen = time.perf_counter()
    wl.generate()
    print(f"inputs generated in {time.perf_counter() - t_gen:.2f}s", file=sys.stderr)

    tracer = T.Tracer(bool(args.trace))
    undo: list = []
    spark = None
    rss = T.RssSampler()
    try:
        if tracer.enabled:
            rss.start()
        steal0 = T.cpu_ticks()
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_session()
        t1 = time.perf_counter()
        with tracer.span("session.warmup"):
            warm_up(spark)
        t2 = time.perf_counter()
        conf_before = T.conf_snapshot(spark)
        if tracer.enabled:
            undo = T.instrument(tracer, wl.span_targets + PREPARED_SPAN)
        with tracer.span("setup"):
            setup_ok = wl.setup(spark, tracer)
        t3 = time.perf_counter()
        heap_mb = T.heap_retained_mb(spark)
        cpu0 = T.tree_cpu_seconds(os.getpid())
        loop = closed_loop(wl, spark, args.seconds, tracer, conf_before)
        cpu_s = T.tree_cpu_seconds(os.getpid()) - cpu0
        t4 = time.perf_counter()
        steal1 = T.cpu_ticks()
        # share of the host's CPU time taken by other guests while the
        # program ran: read timings against it
        host["steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        host["spark"] = spark.version
        host["quick_probe_s"] = bench.quick_probe(spark)
        if tracer.enabled:
            host["calibration"] = bench.calibration(spark)
            conf_leaks = T.leak_counts(spark, conf_before)["session.leaked_conf_keys"]
        for bad in wl.final_check(spark, len(loop.oks)):
            loop.oks[bad] = False
        t5 = time.perf_counter()
        spark.stop()
        spark = None
        stop_jvm()
    finally:
        rss.stop()
        T.restore(undo)
        if spark is not None:
            spark.stop()
            stop_jvm()
        if tracer.enabled:
            tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"op walls: {[round(w, 3) for w in loop.walls]}", file=sys.stderr)
    print(
        f"phases: start {t1 - t0:.2f}s, warm-up {t2 - t1:.2f}s, set-up "
        f"{t3 - t2:.2f}s, loop {t4 - t3:.2f}s, checks {t5 - t4:.2f}s",
        file=sys.stderr,
    )

    result = {
        "correct": setup_ok and all(loop.oks),
        "attempted": len(loop.oks),
        "failed": loop.oks.count(False),
    }
    if not tracer.enabled:
        ok_walls = [w for w, ok in zip(loop.walls, loop.oks) if ok] or loop.walls
        result["metrics"] = {
            "setup_s": t3 - t0,
            "op_p50_s": statistics.median(ok_walls),
            "items_per_s": sum(loop.items) / sum(loop.walls),
            "cpu_s_per_op": cpu_s / len(loop.oks),
            "heap_retained_mb": heap_mb,
        }
        return result, host

    layer = layer_metrics(wl, tracer, loop)
    layer.update({
        "session.start_s": t1 - t0,
        "session.warmup_s": t2 - t1,
        "session.leaked_conf_keys": conf_leaks,
        "peak_rss_mb": rss.peak_bytes / T.MB,
    })
    result["metrics"] = {n: float(layer.get(n, 0.0)) for n, _ in PER_LAYER}
    return result, host


def layer_metrics(wl, tracer, loop: Loop) -> dict[str, float]:
    """Per-layer figures of a traced run; per-op figures are medians
    over the run's ops."""
    from perfbench import trace as T
    from perfbench.stats import tail_percentile

    op_ids = list(range(len(loop.walls)))
    tail = tail_percentile(loop.walls)
    p50 = statistics.median(loop.walls)
    layer = {
        "session.leaked_rdds": loop.leaked_rdds,
        "session.leaked_job_desc": loop.leaked_job_desc,
        "plans.prepared.build_s": tracer.setup_total(PREPARED_SPAN[0][2]),
        "op_tail_s": tail[1] if tail else p50,
        "op_tail_pct": tail[0] if tail else 50.0,
        "failed_frac": loop.oks.count(False) / len(loop.oks),
        "trace.op_p50_s": p50,
    }
    for key in loop.spark[0]:
        name = "spark.exec_s_p50" if key == "spark.exec_s" else key
        layer[name] = T.median_or_zero([m[key] for m in loop.spark])
    for lab in _LABELS:
        for f in _LABEL_UNITS:
            layer[f"{lab}.{f}"] = T.median_or_zero(
                [op.get(lab, {}).get(f, 0.0) for op in loop.labels]
            )
    for _, _, span_name in wl.span_targets:
        layer[span_name] = T.median_or_zero(tracer.per_op_totals(span_name, op_ids))
    layer.update(wl.layer_metrics(tracer, op_ids, loop.walls))
    undeclared = {
        lab for op in loop.labels for lab in op if not lab.endswith(".unlabelled")
    } - set(_LABELS)
    if undeclared:
        print(f"job labels outside the declared metrics: {sorted(undeclared)}", file=sys.stderr)
    return layer


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM (run()'s finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"not a checkout of the engine (missing {', '.join(missing)}); "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result, host = run(args)
    units = dict(END_TO_END + PER_LAYER)
    result["metrics"] = {
        k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()
    }
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
