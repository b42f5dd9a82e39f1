"""The benchmark's workloads: each one generates its inputs from the
seed, sets up the program, runs one closed-loop operation at a time
through the engine's public entry points and checks every output."""

from __future__ import annotations

import os
import shutil
import sys
import time

from perfbench import gen
from perfbench.trace import Tracer, median_or_zero


def dir_mb(path: str) -> float:
    """Size of the files under ``path``, in MiB."""
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / (1024.0 * 1024.0)


def force(df) -> None:
    """Compute every operator of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    #: job-label prefix the workload's unlabelled jobs are filed under
    label_prefix = "unlabelled"
    #: ``(module, function, span name)`` wrapped in spans on traced runs
    span_targets: tuple[tuple[str, str, str], ...] = ()
    #: ops that make up one round of the closed loop; a run ends on a
    #: round boundary
    ops_per_round = 1

    def __init__(self, run_dir: str, seed: int) -> None:
        self.run_dir = run_dir
        self.seed = seed

    def generate(self) -> None:
        """Write the inputs (before any session starts)."""

    def setup(self, spark, tracer: Tracer) -> bool:
        """The program's set-up on a fresh session; returns whether its
        outputs passed their checks."""
        return True

    def op(self, spark, i: int, tracer: Tracer) -> tuple[int, bool]:
        """Run op ``i``; return (items processed, output check passed)."""
        raise NotImplementedError

    def after_op(self, spark) -> None:
        """Untimed clean-up between ops."""

    def final_check(self, spark, n_ops: int) -> list[int]:
        """Untimed checks after the loop; returns the indexes of ops
        that these checks mark as failed."""
        return []

    def layer_metrics(
        self, tracer: Tracer, op_ids: list[int], walls: list[float]
    ) -> dict[str, float]:
        """Workload-specific per-layer figures of a traced run."""
        return {}


# --------------------------------------------------------------------------


class HousesEtl(Workload):
    """The reference pipeline over a sharded dirty UTF-16 CSV."""

    name = "houses_etl"
    label_prefix = "houses"
    n_rows = 20_000
    n_files = 8
    span_targets = (
        ("geoestate_etl_spark.plans.pipeline", "read_dirty_csv", "sources.read_dirty_csv.call_s"),
        ("geoestate_etl_spark.plans.pipeline", "validate_stage", "plans.pipeline.validate_stage.call_s"),
        ("geoestate_etl_spark.plans.pipeline", "write_sorted_table", "sources.write_sorted_table.call_s"),
    )

    def generate(self) -> None:
        from tests.houses_fixture import generate_sharded

        fx = generate_sharded(
            os.path.join(self.run_dir, "houses"), n_rows=self.n_rows,
            seed=self.seed, n_files=self.n_files,
        )
        self.path, self.n_valid = fx.path, fx.n_valid
        # new house ids number the valid rows densely in original-id order
        ranked = sorted(fx.valid_rows, key=lambda d: d["orig_house_id"])
        rows = [(i + 1, d) for i, d in enumerate(ranked) if d["square"] > 60.0]
        rows.sort(key=lambda t: (-t[1]["square"], t[0]))
        self.expected_top25 = [
            (hid, d["square"], d["year"], d["region"]) for hid, d in rows[:25]
        ]

    def setup(self, spark, tracer: Tracer) -> bool:
        items, ok = self.op(spark, -1, tracer)
        self.after_op(spark)
        return ok

    def op(self, spark, i: int, tracer: Tracer) -> tuple[int, bool]:
        from geoestate_etl_spark.plans.pipeline import run_pipeline

        self._serving = os.path.join(self.run_dir, f"serving-{i}")
        res = run_pipeline(spark, self.path, serving_path=self._serving)
        for df in (
            res.year_stats, res.top_regions, res.top_localities,
            res.min_max_square, res.decade_histogram,
        ):
            df.collect()
        top25 = [
            (int(r.house_id), round(float(r.square), 2), r.maintenance_year.year, r.region)
            for r in res.top25_by_square.collect()
        ]
        res.clean.unpersist()
        ok = (
            res.n_valid == self.n_valid
            and res.n_valid + res.n_invalid == self.n_rows
            and top25 == self.expected_top25
        )
        return self.n_rows, ok

    def after_op(self, spark) -> None:
        spark.catalog.clearCache()
        shutil.rmtree(self._serving, ignore_errors=True)


# --------------------------------------------------------------------------

#: request kinds: (registry query, tag column, tag value); a tag filters
#: a tagged-union suite down to one variant, re-planned per request
SERVING_KINDS = (
    ("filtered_topk", None, None),
    ("minmax_by_group", None, None),
    ("json_props", None, None),
    ("pagerank_suppliers", None, None),
    ("set_ops_suite", None, None),
    ("semi_anti_join", None, None),
    ("top_groups", None, None),
    ("window_rank_suite", "kind", "rank"),
    ("window_rank_suite", "kind", "frame"),
)

#: prepared artifacts the served queries read (plans/prepared.py)
SERVING_ARTIFACTS = ("pagerank_supplier_nation",)


def kind_name(kind: tuple) -> str:
    name, tag, value = kind
    return name if tag is None else f"{name}[{tag}={value}]"


class QueryServing(Workload):
    """Registry queries served from prepared plans, one request at a
    time in a seeded order."""

    name = "query_serving"
    label_prefix = "registry"
    ops_per_round = len(SERVING_KINDS)  # one pass over every request kind
    n_passes = 200  # the schedule repeats after this many passes

    def generate(self) -> None:
        from perfbench.stats import request_schedule

        self.sf_dir = gen.gen_serving_tables(os.path.join(self.run_dir, "serving"), self.seed)
        self.schedule = request_schedule(
            [kind_name(k) for k in SERVING_KINDS], self.seed, self.n_passes
        )
        self.kinds = {kind_name(k): k for k in SERVING_KINDS}
        self.hits = 0
        self.plan_s: list[float] = []

    def _request(self, spark, kind: tuple, tracer: Tracer):
        from pyspark.sql import functions as F

        from geoestate_etl_spark.plans import registry

        name, tag, value = kind
        if tracer.enabled and tracer.op_id is not None:
            key = (name, self.sf_dir, spark.sparkContext.applicationId)
            self.hits += key in registry._PLAN_CACHE
        with tracer.span("plans.registry.call_s"):
            df = self.specs[name].fn(spark, self.sf_dir)
        if tag is not None:
            df = df.filter(F.col(tag) == value)
        return df

    def setup(self, spark, tracer: Tracer) -> bool:
        from geoestate_etl_spark.plans import all_queries
        from geoestate_etl_spark.plans.prepared import invalidate_artifacts
        from geoestate_etl_spark.plans.registry import invalidate_prepared

        # the write side of the serving split: drop and rebuild the
        # derived artifacts, then prepare and run every request kind once
        for name in SERVING_ARTIFACTS:
            invalidate_artifacts(name)
        invalidate_prepared()
        self.specs = all_queries()
        for kind in SERVING_KINDS:
            with tracer.span("plans.registry.build_s"):
                force(self._request(spark, kind, tracer))
        return True

    def kind_at(self, i: int) -> str:
        return self.schedule[i % len(self.schedule)]

    def op(self, spark, i: int, tracer: Tracer) -> tuple[int, bool]:
        kind = self.kinds[self.kind_at(i)]
        df = self._request(spark, kind, tracer)
        if tracer.enabled:
            # plan time of a fresh QueryExecution over the same plan
            t0 = time.perf_counter()
            df.select("*")._jdf.queryExecution().executedPlan()
            self.plan_s.append(time.perf_counter() - t0)
        force(df)
        return 1, True

    def final_check(self, spark, n_ops: int) -> list[int]:
        """Every served kind must hash-match its DuckDB oracle; every
        request of a kind that does not counts as failed."""
        import duckdb

        from tests.oracle_utils import compare_spark_duckdb

        con = duckdb.connect()
        for t in gen.SERVING_TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        bad = set()
        for kname, kind in self.kinds.items():
            name, tag, value = kind
            sql = self.specs[name].oracle
            if tag is not None:
                sql = f"SELECT * FROM ({sql}) AS t WHERE {tag} = '{value}'"
            ok, msg = compare_spark_duckdb(self._request(spark, kind, Tracer(False)), con, sql)
            if not ok:
                print(f"oracle mismatch: {kname}: {msg}", file=sys.stderr)
                bad.add(kname)
        con.close()
        return [i for i in range(n_ops) if self.kind_at(i) in bad]

    def layer_metrics(
        self, tracer: Tracer, op_ids: list[int], walls: list[float]
    ) -> dict[str, float]:
        from geoestate_etl_spark.plans.prepared import _warehouse_root

        calls = [
            s.end - s.start
            for s in tracer.durations("plans.registry.call_s")
            if s.op_id is not None
        ]
        # the plan probe runs inside the request; share of the rest
        shares = [p / (w - p) for p, w in zip(self.plan_s, walls) if w > p]
        written = sum(
            dir_mb(os.path.join(_warehouse_root(), name)) for name in SERVING_ARTIFACTS
        )
        return {
            "plans.prepared.written_mb": written,
            "plans.registry.build_s": tracer.setup_total("plans.registry.build_s"),
            "plans.registry.call_s_p50": median_or_zero(calls),
            "plans.registry.hit_ratio": self.hits / len(op_ids) if op_ids else 0.0,
            "spark.plan_s_p50": median_or_zero(self.plan_s),
            "spark.plan_share": median_or_zero(shares),
        }


WORKLOADS = {w.name: w for w in (HousesEtl, QueryServing)}
