"""Per-query isolation bench (guide §1.4): times each headline query of
``bench.headline_queries`` on its own with the noop sink and labelled jobs,
or captures its physical plan.  NOT the driver contract; numbers from here
are cited in OPTIMIZATION_r06.md.  Per-layer dedup numbers come from
``perfbench/run.py --workload dedup_docs --trace 1``.

Usage:
  python bench_extra.py queries [names] # standalone per-query walls (N reps)
  python bench_extra.py plans           # write plans/r06/<q>_{before,after}.txt
"""

from __future__ import annotations

import json
import os
import sys
import time

REPS = int(os.environ.get("SPEL_EXTRA_REPS", "3"))

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _spark():
    from spel_spark.session import get_spark, warm_python_workers

    spark = get_spark(app_name="spel_bench_extra")
    warm_python_workers(spark)
    return spark


def _timed(spark, label, build, reps=REPS):
    from spel_spark.session import cache_scope

    walls = []
    for _ in range(reps):
        spark.sparkContext.setJobDescription(label)
        with cache_scope():
            t0 = time.time()
            _noop(build())
            walls.append(round(time.time() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"label": label, "walls": sorted(walls)}), flush=True)
    return min(walls)


def run_queries(names):
    from bench import headline_queries

    spark = _spark()
    builders = headline_queries(spark)
    total = 0.0
    for name in names or builders:
        total += _timed(spark, name, builders[name])
    print(json.dumps({"total_min": round(total, 3)}), flush=True)
    spark.stop()


def run_plans(names, suffix):
    from bench import headline_queries
    from spel_spark.session import cache_scope

    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    spark = _spark()
    builders = headline_queries(spark)
    for name in names or builders:
        with cache_scope():
            df = builders[name]()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print("wrote", path, flush=True)
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    rest = [a for a in sys.argv[2:] if not a.startswith("--")]
    if mode == "plans":
        suffix = "after" if "--after" in sys.argv else "before"
        run_plans(rest, suffix)
    else:
        run_queries(rest)
