"""Per-query profiling probe (optimization round r13): for each named
registry query, run it through the exact bench path (plan -> noop sink),
and report wall seconds (min of N reps) plus the JOB and STAGE counts
the first rep scheduled — the local-mode proxies for "how many actions /
shuffle boundaries does this query pay for".  Optionally dumps the
formatted plan of the final frame to <plans_dir>/<name>.txt.

Job count: eager actions inside the query builder (localCheckpoint,
count, collect, approxQuantile) each schedule extra jobs before the
timed noop write; stage count sums the stages of those jobs (skipped
result stages of reused exchanges still appear as stage ids).  Both
come from ``scheduled`` in tools/ab.py, the A/B runner's counter.

Usage:
  python tools/profile_query.py [--reps N] [--plans DIR] name [name ...]
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    reps = 2
    plans_dir = None
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    if "--plans" in args:
        i = args.index("--plans")
        plans_dir = args[i + 1]
        del args[i : i + 2]
        os.makedirs(plans_dir, exist_ok=True)

    from ab import scheduled

    from cdc_extractor_spark.queries import QUERIES
    from cdc_extractor_spark.session import get_session

    spark = get_session(app_name="profile_query")

    # warm the JVM the same way bench.py does
    warm = spark.read.parquet(f"{SF_DIR}/region.parquet")
    warm.groupBy("r_name").count().write.format("noop").mode("overwrite").save()

    def run(fn):
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        return df, round(time.perf_counter() - t0, 3)

    print(f"{'query':42s} {'sec':>7s} {'jobs':>5s} {'stages':>7s}  reps")
    for name in args:
        fn = QUERIES[name]
        times: list[float] = []
        jobs = stages = 0
        for r in range(reps):
            if r > 0:
                df, sec = run(fn)
            else:
                (df, sec), jobs, stages = scheduled(spark, lambda: run(fn))
                if plans_dir is not None:
                    fmt = df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"
                    )
                    with open(
                        os.path.join(plans_dir, f"{name}.txt"), "w"
                    ) as f:
                        f.write(fmt)
            times.append(sec)
            del df
            gc.collect()
        print(f"{name:42s} {min(times):7.3f} {jobs:5d} {stages:7d}  {times}")
    spark.stop()


if __name__ == "__main__":
    main()
