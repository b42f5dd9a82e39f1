"""Dump `.explain("formatted")` for every registry query to
``<out_dir>/<name>_<suffix>.txt`` (plan-shape evidence for an
optimization round).

Run from the repo root:

    python tools/dump_plans.py plans/r11                  # suffix "after"
    python tools/dump_plans.py plans/r11 before
    python tools/dump_plans.py plans/r11 after text_metrics graph_bfs

Plans are captured at the bench scale ($SPARK_GRAFT_SF_DIR, default
sf0.1) with the bench session (AQE on), so the text matches what the
bench executes. They are the initial plans (``isFinalPlan=false``);
the plan-shape facts a round cites (Exchange count, join strategy,
PushedFilters/ReadSchema, codegen spans, *EvalPython nodes) are all
visible there.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geoestate_etl_spark.plans import all_queries
from geoestate_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "after"
    only = set(sys.argv[3:])  # optional: dump just these queries
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    for name, spec in all_queries().items():
        if only and name not in only:
            continue
        try:
            df = spec.fn(spark, SF_DIR)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — record, keep dumping
            plan = f"EXPLAIN FAILED: {type(e).__name__}: {e}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
