"""Per-stage job profile of the four e2e bench lines.

Runs each e2e pipeline once and groups the jobs it launched by job
label (the stage names the pipelines set through
``geoestate_etl_spark.stage.labelled``), read from Spark's status
store through ``perfbench.trace``:

    python tools/profile_stages.py [houses|corpus|media|paired ...]

Prints one JSON line per pipeline: its wall time and, per stage, wall
time, job and task counts, task CPU time and shuffle written. Jobs
without a label are grouped under ``<line>.unlabelled``.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LINES = ("houses", "corpus", "media", "paired")


def main(which: list[str]) -> None:
    import bench
    from geoestate_etl_spark.session import get_spark
    from perfbench.trace import by_label, last_job_id, read_jobs

    spark = get_spark("profile-stages")
    # warm the JVM and the Python workers as the bench does
    bench.force(spark.read.parquet(os.path.join(bench.SF_DIR, "region.parquet")))
    runs = {
        "houses": lambda: bench.bench_houses_pipeline(spark, reps=1),
        "corpus": lambda: bench.bench_corpus_pipeline(spark),
        "media": lambda: bench.bench_media_pipeline(spark),
        "paired": lambda: bench.bench_paired_pipeline(spark),
    }
    seen_stages: set[int] = set()
    for name in which:
        first_job = last_job_id(spark)
        t0 = time.perf_counter()
        runs[name]()
        wall_s = time.perf_counter() - t0
        stages = by_label(read_jobs(spark, first_job, seen_stages), name)
        print(json.dumps({"line": name, "wall_s": round(wall_s, 3), "stages": stages}))
    spark.stop()


if __name__ == "__main__":
    unknown = set(sys.argv[1:]) - set(LINES)
    if unknown:
        sys.exit(f"unknown line(s) {sorted(unknown)}; choose from {LINES}")
    main(sys.argv[1:] or list(LINES))
