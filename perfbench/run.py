"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 24

Run from the repository root.  One workload per process; the last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  ``--all`` runs every workload in
turn, each in its own process, and prints one table row per workload.

Everything the run writes goes under ``.perfbench/`` in the current
directory: scratch inputs and outputs in ``.perfbench/work`` (removed at
exit) and one JSON artifact per run in ``.perfbench/results``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s runs from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("cdc", "query_mix")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload, one process each")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not args.all and not args.workload:
        ap.error("one of --workload or --all is required")
    return args


def _prepare_env(root: str, work: str) -> None:
    """Pin the Spark process to this machine's size and keep every file
    it writes inside ``work``.  Must run before pyspark is imported."""
    cpus = min(4, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM the launcher starts: temp files under work, and no
    # hsperfdata file, which the JVM otherwise always puts in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    # few malloc arenas: the JVM's native memory then varies less with how
    # its threads happened to be scheduled, which steadies peak RSS
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if root not in sys.path:
        sys.path.insert(0, root)


def _check_program(root: str) -> None:
    """The program under test must be the package in this checkout."""
    pkg = os.path.join(root, "cdc_extractor_spark", "__init__.py")
    if not os.path.isfile(pkg):
        raise SystemExit(f"perfbench: no cdc_extractor_spark package under {root}")


def run_all(args) -> int:
    rows = []
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.DEVNULL)
        if proc.returncode != 0:
            print(f"{w}: exit code {proc.returncode}", file=sys.stderr)
            return proc.returncode
        path = os.path.join(os.getcwd(), ".perfbench", "results", f"{w}_seed{args.seed}_trace{args.trace}.json")
        with open(path) as f:
            rows.append((w, json.load(f)))
    sys.path.insert(0, HERE)
    import report

    print(report.table(rows, traced=bool(args.trace)))
    return 0


def main(argv=None) -> int:
    args = _parse(argv)
    if args.all:
        return run_all(args)
    root = os.getcwd()
    _check_program(root)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench", "work", run_id)
    results = os.path.join(root, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    _prepare_env(root, work)
    sys.path.insert(0, HERE)

    import report
    import workloads

    try:
        result = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work, run_id,
                               T_START)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result["run_id"] = run_id
    report.add_overhead(result, results)
    path = os.path.join(results, f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(report.table([(args.workload, result)], traced=bool(args.trace)))
    print(json.dumps(result["contract"], sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
