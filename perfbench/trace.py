"""Tracing for the benchmark: call spans recorded from the benchmark's
own files, Spark job/stage records read from the status store, leak
counts, and the process tree's CPU time and memory.

The aggregation functions take plain records, so they run without
Spark; the functions that take ``spark`` talk to the JVM.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import re
import statistics
import sys
import threading
import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import asdict, dataclass, field

MB = 1024.0 * 1024.0


# --------------------------------------------------------------------------
# call spans


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None  # index of the enclosing span in Tracer.spans
    op_id: int | None  # None: set-up, outside any timed op


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing, so the
    untraced run pays only a no-op context manager per op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), None, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def durations(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def per_op_totals(self, name: str, op_ids: Iterable[int]) -> list[float]:
        """Seconds spent in spans called ``name``, summed per timed op;
        ops without such a span contribute 0."""
        tot = {i: 0.0 for i in op_ids}
        for s in self.durations(name):
            if s.op_id in tot:
                tot[s.op_id] += s.end - s.start
        return list(tot.values())

    def setup_total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.durations(name) if s.op_id is None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def instrument(tracer: Tracer, targets: Iterable[tuple[str, str, str]]) -> list:
    """Wrap each ``(module, function, span name)`` in a span, at every
    binding of that function inside the engine package (a module that
    did ``from x import f`` holds its own reference). Returns what
    :func:`restore` needs to undo it."""
    undo = []
    for mod_name, attr, span_name in targets:
        orig = getattr(importlib.import_module(mod_name), attr)
        wrapped = tracer.wrap(orig, span_name)
        for name, mod in list(sys.modules.items()):
            if name.startswith("geoestate_etl_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)
                undo.append((mod, attr, orig))
    return undo


def restore(undo: list) -> None:
    for mod, attr, orig in reversed(undo):
        setattr(mod, attr, orig)


# --------------------------------------------------------------------------
# Spark status store


@dataclass
class StageRecord:
    stage_id: int
    run_s: float  # summed task run time
    cpu_s: float  # summed task CPU time
    tasks: int
    failed_tasks: int
    input_b: int = 0
    output_b: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0


@dataclass
class JobRecord:
    job_id: int
    label: str | None
    start_s: float
    end_s: float
    stages: list[StageRecord] = field(default_factory=list)


def _opt(jopt):
    return jopt.get() if jopt.isDefined() else None


def _job_list(spark):
    store = spark.sparkContext._jsc.sc().statusStore()
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    return store, conv.asJava(store.jobsList(None))


def last_job_id(spark) -> int:
    _, jobs = _job_list(spark)
    return max((j.jobId() for j in jobs), default=-1)


def read_jobs(spark, after_job_id: int, seen_stages: set[int]) -> list[JobRecord]:
    """Completed jobs with id > ``after_job_id`` from the status store
    (populated with the UI disabled). Stages already in ``seen_stages``
    (shared by several jobs) and stages that never ran are skipped, so
    summing over jobs counts each stage once."""
    from py4j.protocol import Py4JJavaError

    store, jobs = _job_list(spark)
    out = []
    for j in jobs:
        jid = j.jobId()
        done = _opt(j.completionTime())
        if jid <= after_job_id or done is None:
            continue
        rec = JobRecord(
            job_id=jid,
            label=_opt(j.description()),
            start_s=_opt(j.submissionTime()).getTime() / 1000.0,
            end_s=done.getTime() / 1000.0,
        )
        ids = j.stageIds().mkString(",")
        for sid in (int(x) for x in ids.split(",") if x):
            if sid in seen_stages:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if st.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            seen_stages.add(sid)
            rec.stages.append(
                StageRecord(
                    stage_id=sid,
                    run_s=st.executorRunTime() / 1000.0,
                    cpu_s=st.executorCpuTime() / 1e9,
                    tasks=st.numTasks(),
                    failed_tasks=st.numFailedTasks(),
                    input_b=st.inputBytes(),
                    output_b=st.outputBytes(),
                    shuffle_read_b=st.shuffleReadBytes(),
                    shuffle_write_b=st.shuffleWriteBytes(),
                    spill_b=st.memoryBytesSpilled() + st.diskBytesSpilled(),
                )
            )
        out.append(rec)
    out.sort(key=lambda r: r.job_id)
    return out


def union_seconds(intervals: Iterable[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def op_spark_metrics(jobs: list[JobRecord], wall_s: float, cores: int) -> dict[str, float]:
    """Per-op figures of the ``spark.*`` layer from one op's jobs."""
    stages = [s for j in jobs for s in j.stages]
    tasks = sum(s.tasks for s in stages)
    busy = union_seconds((j.start_s, j.end_s) for j in jobs)
    run_s = sum(s.run_s for s in stages)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": tasks,
        "spark.exec_s": busy,
        "spark.driver_gap_s": max(0.0, wall_s - busy),
        "spark.unlabelled_jobs": sum(1 for j in jobs if j.label is None),
        "spark.task_cpu_s": sum(s.cpu_s for s in stages),
        "spark.core_busy_frac": run_s / (cores * wall_s) if wall_s > 0 else 0.0,
        "spark.shuffle_write_mb": sum(s.shuffle_write_b for s in stages) / MB,
        "spark.shuffle_read_mb": sum(s.shuffle_read_b for s in stages) / MB,
        "spark.input_mb": sum(s.input_b for s in stages) / MB,
        "spark.output_mb": sum(s.output_b for s in stages) / MB,
        "spark.task_retry_ratio": (
            sum(s.failed_tasks for s in stages) / tasks if tasks else 0.0
        ),
        "spark.spill_mb": sum(s.spill_b for s in stages) / MB,
    }


def label_metric_name(label: str | None, default_prefix: str) -> str:
    """``"corpus: minhash+cc+survivors"`` → ``"corpus.minhash_cc_survivors"``;
    a job with no label → ``"<default_prefix>.unlabelled"``."""
    if label is None:
        return f"{default_prefix}.unlabelled"
    prefix, sep, rest = label.partition(": ")
    if not sep:
        prefix, rest = default_prefix, label
    slug = re.sub(r"[^a-z0-9]+", "_", rest.lower()).strip("_")
    return f"{prefix.strip().lower()}.{slug}"


def by_label(jobs: list[JobRecord], default_prefix: str) -> dict[str, dict[str, float]]:
    """One op's jobs grouped by job label: wall time (union of the
    label's job intervals), job and task counts, task CPU time and
    shuffle written."""
    groups: dict[str, list[JobRecord]] = {}
    for j in jobs:
        groups.setdefault(label_metric_name(j.label, default_prefix), []).append(j)
    out = {}
    for name, js in groups.items():
        stages = [s for j in js for s in j.stages]
        out[name] = {
            "wall_s": union_seconds((j.start_s, j.end_s) for j in js),
            "jobs": len(js),
            "tasks": sum(s.tasks for s in stages),
            "task_cpu_s": sum(s.cpu_s for s in stages),
            "shuffle_write_mb": sum(s.shuffle_write_b for s in stages) / MB,
        }
    return out


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------------------
# leaks


def conf_snapshot(spark) -> dict[str, str]:
    return dict(spark.conf.getAll)


def leak_counts(spark, conf_before: dict[str, str]) -> dict[str, int]:
    """State a finished op left behind: cached RDDs still registered,
    session conf keys added or changed, and a job label still set."""
    sc = spark.sparkContext
    now = conf_snapshot(spark)
    changed = [k for k, v in now.items() if conf_before.get(k) != v]
    return {
        "session.leaked_rdds": sc._jsc.getPersistentRDDs().size(),
        "session.leaked_conf_keys": len(changed),
        "session.leaked_job_desc": int(sc.getLocalProperty("spark.job.description") is not None),
    }


# --------------------------------------------------------------------------
# the process tree: CPU time and memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the closing paren
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants."""
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def peak_rss_bytes(pid: int) -> int:
    """The kernel's high-water mark of ``pid``'s resident memory."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_cpu_seconds(root_pid: int) -> float:
    """User + system CPU time of ``root_pid`` and its live descendants.
    Time the hypervisor gave to other guests (steal) is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / tick


def cpu_ticks() -> tuple[int, int]:
    """Host-wide (steal, total) CPU ticks from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def heap_retained_mb(spark) -> float:
    """JVM heap in use after a full collection: what the driver retains
    (caches, broadcast state, plans), not garbage. Collects twice: the
    first collection lets Spark's context cleaner drop the broadcast
    and shuffle state of frames that are gone, the second frees it."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(1.0)
    jvm.System.gc()
    rt = jvm.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / MB


class RssSampler:
    """Tracks the resident-memory high-water mark of every process in
    the tree (the kernel keeps each one, so no peak falls between two
    samples); the tree's peak is their sum. A background thread polls
    for processes that start and stop during the run."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_bytes(self) -> int:
        return sum(self._hwm.values())

    def _poll(self) -> None:
        for pid in tree_pids(os.getpid()):
            self._hwm[pid] = max(self._hwm.get(pid, 0), peak_rss_bytes(pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._poll()
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        # start this process's mark afresh: input generation is not
        # part of what the run measures
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)
