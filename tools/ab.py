"""Interleaved A/B runner: two forms of one query, one session, min-of-N.

Each side is a registry query name or ``file.py:fn`` with
``fn(spark, sf_dir) -> DataFrame`` (from Python, also a callable).  Runs:
1. parity: both results as sorted-column ``repr`` multisets (the form
   tools/parity_check.py uses), reported EXACT or MISMATCH;
2. one untimed warm rep per side;
3. ``reps`` timed reps through the noop sink, the side that runs first
   alternating from rep to rep.
Per side: min and median seconds, and the jobs and stages the first
timed rep scheduled, counting the builder's eager actions AND the noop
write's own job(s).  Retired forms stay in git history: restore one with
``git show 23ca5f3:tools/probe_r14.py`` and pass its function as a side.

Usage: python tools/ab.py [--reps N] [--sf DIR] A B   (DIR defaults to $SPARK_GRAFT_SF_DIR)
  e.g. python tools/ab.py dedup_cluster_components /tmp/old.py:cc_old
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import os
import statistics
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def scheduled(spark, action):
    """Run ``action()``; return ``(result, jobs, stages)``: the jobs Spark
    started while it ran, in any job group (streaming micro-batches
    too; job ids are sequential), and their stage counts summed, so a
    skipped stage of a reused exchange still counts.  The listener bus
    is drained before the jobs are read, so the last job is seen."""
    sc = spark.sparkContext._jsc.sc()
    first = sc.dagScheduler().numTotalJobs()
    result = action()
    last = sc.dagScheduler().numTotalJobs()
    sc.listenerBus().waitUntilEmpty()
    infos = [sc.statusTracker().getJobInfo(j) for j in range(first, last)]
    stages = sum(len(i.get().stageIds()) for i in infos if i.nonEmpty())
    return result, last - first, stages


def resolve(side):
    """A callable as is, ``file.py:fn`` from that file, else a registry
    query name."""
    if callable(side):
        return side
    path, _, fn = side.rpartition(":")
    if path.endswith(".py"):
        spec = importlib.util.spec_from_file_location(
            os.path.splitext(os.path.basename(path))[0], path
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return getattr(mod, fn)
    from cdc_extractor_spark.queries import QUERIES

    return QUERIES[side]


def _rows(df) -> tuple[list[str], Counter]:
    cols = sorted(df.columns)
    return cols, Counter(tuple(map(repr, r)) for r in df.select(*cols).collect())


def _timed(spark, fn, sf_dir: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    sec = time.perf_counter() - t0
    # release localCheckpoint blocks before the other side runs
    gc.collect()
    return sec


def ab(spark, a, b, sf_dir: str, reps: int) -> dict:
    """Run sides ``a`` and ``b`` as described in the module docstring and
    return ``{"parity", "rows", "order", "a", "b"}``; each side maps to
    ``{"min_s", "median_s", "jobs", "stages", "times"}`` and ``order``
    lists the side that ran first in each timed rep."""
    fns = {"a": resolve(a), "b": resolve(b)}
    ra, rb = (_rows(fns[s](spark, sf_dir)) for s in "ab")
    for s in "ab":
        _timed(spark, fns[s], sf_dir)
    out = {s: {"times": [], "jobs": None, "stages": None} for s in "ab"}
    order = []
    for i in range(reps):
        sides = "ab" if i % 2 == 0 else "ba"
        order.append(sides[0])
        for s in sides:
            if i == 0:  # each side's first timed rep
                sec, jobs, stages = scheduled(
                    spark, lambda: _timed(spark, fns[s], sf_dir)
                )
                out[s].update(jobs=jobs, stages=stages)
            else:
                sec = _timed(spark, fns[s], sf_dir)
            out[s]["times"].append(round(sec, 3))
    for s in "ab":
        t = out[s]["times"]
        out[s].update(min_s=min(t), median_s=statistics.median(t))
    return {
        "parity": "EXACT" if ra == rb else "MISMATCH",
        "rows": (sum(ra[1].values()), sum(rb[1].values())),
        "order": order,
        **out,
    }


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("a")
    p.add_argument("b")
    p.add_argument("--reps", type=int, default=5)
    p.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = p.parse_args()
    if args.reps < 1 or not args.sf:
        p.error("need --reps >= 1 and a fixture dir (--sf or $SPARK_GRAFT_SF_DIR)")

    from cdc_extractor_spark.session import get_session

    spark = get_session(
        app_name="ab", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    r = ab(spark, args.a, args.b, args.sf, args.reps)
    print(f"parity: {r['parity']} rows={r['rows'][0]}/{r['rows'][1]}")
    print(f"{'side':44s} {'min_s':>7s} {'median_s':>8s} {'jobs':>5s} {'stages':>6s}")
    for s, name in (("a", args.a), ("b", args.b)):
        x = r[s]
        print(
            f"{s} {name[-42:]:42s} {x['min_s']:7.3f} {x['median_s']:8.3f} "
            f"{x['jobs']:5d} {x['stages']:6d}  {x['times']}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
