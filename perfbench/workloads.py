"""The two workloads: ``cdc`` (a drain phase, then a tail phase) and
``query_mix``.

Each runs in one process against the package's public functions:
set up (session, inputs, warm-up; ``setup_s`` runs from process start to
the first timed operation), then measure for the requested number of
seconds, then check every output outside the timed region.  A traced run repeats the same work with spans
around the package calls and reports per-layer numbers instead.
"""

from __future__ import annotations

import contextlib
import os
import random
import threading
import time
from dataclasses import asdict

import gen
from checks import Tally, check_batches, oracle_mismatch, read_extract_ids, read_metrics_rows
from stats import median, self_times, tail
from trace import Engine, Progress, Tracer, window_stats

DRAIN_TIMEOUT_S = 60
YOUNG_GEN = "256m"  # driver JVM young generation, fixed (see Harness.start)

# Traffic of the change-feed workloads (see README.md).  Each changed
# row emits its events by the repository's derived change-stream rules
# (gen.change_events); the specs only say how many rows change.
DRAIN_FEED = gen.FeedSpec(customers=4_000, orders=35_000)  # ~80k events
DRAIN_BATCHES = 8
# the tail: new orders only, ~2k events (1,000 orders) per batch, keyed
# above the backlog so event ids keep growing
TAIL_ORDERS_PER_BATCH = 1_000
TAIL_KEY_BASE = 200_000
# open-loop arrival, one batch per interval: about a third of the tail's
# commit capacity, so the poll loop keeps up even when the host runs at
# half speed and freshness shows poll cost, not a queue building up
TAIL_INTERVAL_S = 2.0
DRAIN_SHARE = 0.4  # of the timed region; the tail phase gets the rest
TAIL_WARMUP_BATCHES = 2
# a run whose generator published a batch later than this is invalid
GEN_LATE_LIMIT_MS = 250.0

# query_mix: the CDC queries (query registry Groups A and B) plus four
# execution-heavy queries.
CDC_QUERIES = (
    "scan_changelog", "filter_isin", "filter_offset_range", "agg_max_offset",
    "project_cast_string", "distinct_keys", "join_lookup_commit_ts",
    "group_collect_xids", "watermark_max_commit_ts", "window_tumbling_1min",
    "staleness_lag", "task_latency_stats", "cdc_latest_per_key",
    "cdc_apply_deletes", "cdc_demux", "orderby_commit_ts",
    "window_counts_per_table", "cdc_scd2_history", "cdc_snapshot_asof",
    "cdc_gap_summary", "cdc_gap_summary_partitioned", "cdc_net_change_summary",
    "cdc_version_delta",
)
HEAVY_QUERIES = (
    "er_entity_groups", "setsim_prefix_filter_pairs", "dedup_exact_substrings",
    "pagerank_copurchase",
)
# build + plan + exec must account for a query's wall within this
# tolerance (the larger of the share and the floor)
RESIDUAL_SHARE = 0.25
RESIDUAL_FLOOR_S = 0.15
# JIT warm-up at the end of set-up: one query per code path family
# (plain scan, change-feed derivation, window, join, aggregate)
WARMUP_QUERIES = (
    "scan_changelog", "cdc_latest_per_key", "staleness_lag",
    "join_lookup_commit_ts", "group_collect_xids",
)
FIXTURE = gen.FixtureSpec(customers=750, orders=7500, parts=1000, events=5000, documents=250)
# The fixture stands in for the registry's fixed fixture directories, so
# its seed is a constant; the run's --seed orders the queries of a pass.
FIXTURE_SEED = 42
FIXTURE_TABLES = ("customer", "orders", "part", "lineitem", "events", "documents")


def traffic() -> dict:
    return {
        "cdc": {
            "change_rules": "cdc_extractor_spark/sources/changes.py",
            "drain": {"loop": "closed, one client", "batches_per_drain": DRAIN_BATCHES,
                      **asdict(DRAIN_FEED)},
            "tail": {"loop": "open", "batch_interval_s": TAIL_INTERVAL_S,
                     "warmup_batches": TAIL_WARMUP_BATCHES,
                     "orders_per_batch": TAIL_ORDERS_PER_BATCH, "key_base": TAIL_KEY_BASE},
        },
        "query_mix": {"loop": "closed, one client", "queries": list(CDC_QUERIES + HEAVY_QUERIES),
                      "fixture": asdict(FIXTURE), "fixture_seed": FIXTURE_SEED},
    }


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


class Harness:
    """One Spark session at a time, with every file it writes kept under
    ``work``, plus the listener and (in traced runs) the tracer."""

    def __init__(self, work: str, run_id: str, traced: bool, t_start: float):
        self.work = work
        self.t_start = t_start  # perf_counter() at process start
        self.spark = None
        self.engine: Engine | None = None
        self.progress: Progress | None = None
        self.tracer = Tracer(run_id) if traced else None
        self.first_start_s: float | None = None
        self.jvm_pid: int | None = None

    def start(self, master: str | None = None) -> None:
        from cdc_extractor_spark.session import get_session

        t0 = time.perf_counter()
        self.spark = get_session(
            app_name="perfbench",
            master=master,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # a fixed young generation keeps peak RSS from depending on
                # how large the collector chose to make it; the rest of the
                # heap is touched only as the program's data grows
                "spark.driver.extraJavaOptions": f"-Xmn{YOUNG_GEN}",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.engine = Engine(self.spark)
        self.progress = Progress()
        self.spark.streams.addListener(self.progress)
        if self.first_start_s is None:
            self.first_start_s = time.perf_counter() - t0
            self.jvm_pid = self.engine.jvm_pid()
        if self.tracer is not None:
            self.tracer.engine = self.engine

    def stop(self) -> None:
        if self.spark is None:
            return
        for q in self.spark.streams.active:
            q.stop()
        self.spark.streams.removeListener(self.progress)
        self.spark.stop()
        self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the driver JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
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

    def peak_rss_mb(self) -> float:
        total = 0
        for pid in ("self", self.jvm_pid):
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        return total / 1024.0

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name, **attrs)

    def run_pipeline(self, feed: str, out: str):
        """One ``run_cdc_pipeline`` call; returns ``(wall_s, epochs)``,
        where ``epochs`` are the engine progress records of this call."""
        from cdc_extractor_spark.streaming.pipeline import run_cdc_pipeline

        n_term = self.progress.terminated
        n_ep = len(self.progress.epochs)
        t0 = time.perf_counter()
        with self.span("streaming.run_cdc_pipeline"):
            run_cdc_pipeline(self.spark, feed, out, timeout_sec=DRAIN_TIMEOUT_S)
        wall = time.perf_counter() - t0
        if not self.progress.wait_terminated(n_term + 1, timeout=5.0):
            # run_cdc_pipeline ignores awaitTermination's result: on a
            # timeout it returns partial output with the query running
            for q in self.spark.streams.active:
                q.stop()
            raise TimeoutError("streaming query still running after the call returned")
        return wall, [e for e in self.progress.epochs[n_ep:] if e["rows"] > 0]


def _setup(h: Harness, prepare) -> float:
    """Launch the JVM and start the session, make the inputs and warm up.
    Returns the seconds from process start to now, the first timed
    operation."""
    h.start()
    prepare()
    return time.perf_counter() - h.t_start


def _ms(epoch: dict, key: str) -> float:
    return float(epoch["ms"].get(key, 0))


# ---------------------------------------------------------------------------
# cdc: drain phase, then tail phase
# ---------------------------------------------------------------------------


def _check_out(tally: Tally, out: str, batches) -> None:
    """Count one operation per batch; a batch whose metrics row or
    extract rows are missing or wrong fails."""
    errs = check_batches(
        read_metrics_rows(os.path.join(out, "metrics")),
        read_extract_ids(os.path.join(out, "extract")),
        batches,
    )
    for e in errs:
        tally.fail(e)
    tally.ok(max(0, len(batches) - len(errs)))


def _extract_files(out: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(os.path.join(out, "extract")):
        for f in files:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _drain_phase(h: Harness, feed: str, batches, seconds: float, tally: Tally) -> list[dict]:
    """Closed loop: drain the whole backlog with a fresh checkpoint, again
    and again, for ``seconds`` (at least once)."""
    drains = []
    deadline = time.perf_counter() + seconds
    k = 0
    while k == 0 or time.perf_counter() < deadline:
        out = os.path.join(h.work, f"drain{k}")
        k += 1
        spans0 = len(h.tracer.spans) if h.tracer else 0
        c0 = h.engine.counters()
        try:
            wall, epochs = h.run_pipeline(feed, out)
        except Exception as e:  # a drain that raises fails every batch in it
            tally.fail(f"drain {k}: {type(e).__name__}: {e}", n=len(batches))
            continue
        drains.append({"out": out, "wall": wall, "epochs": epochs, "c0": c0,
                       "c1": h.engine.counters(), "spans0": spans0})
    return drains


class _Generator(threading.Thread):
    """Publishes pre-built batches on a fixed schedule, regardless of how
    the consumer keeps up (open loop)."""

    def __init__(self, tables, feed: str, first_index: int, interval: float, t0: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.tables = tables
        self.feed = feed
        self.first_index = first_index
        self.interval = interval
        self.t0 = t0
        self.late: list[float] = []
        self.stop_event = threading.Event()
        self.error: BaseException | None = None

    def published(self) -> int:
        return len(self.late)

    def due(self, i: int) -> float:
        return self.t0 + i * self.interval

    def run(self):
        try:
            for i, table in enumerate(self.tables):
                due = self.due(i)
                if self.stop_event.wait(max(0.0, due - time.perf_counter())):
                    return
                gen.publish_batch(table, self.feed, self.first_index + i)
                self.late.append(time.perf_counter() - due)
        except BaseException as e:  # re-raised by the poll loop's caller
            self.error = e


def _tail_phase(h: Harness, feed: str, out: str, live, seconds: float, tally: Tally) -> dict:
    """Open loop: the generator publishes ``live`` on schedule while the
    poll loop calls ``run_cdc_pipeline`` back to back on one checkpoint.
    A batch's freshness runs from its due time to the return of the poll
    that committed it."""
    t0 = time.perf_counter() + 0.05
    g = _Generator(live, feed, TAIL_WARMUP_BATCHES, TAIL_INTERVAL_S, t0)
    g.start()
    committed = 0
    fresh_ms: list[float] = []
    polls = []

    def poll():
        nonlocal committed
        backlog = g.published() - committed
        spans0 = len(h.tracer.spans) if h.tracer else 0
        c0 = h.engine.counters()
        try:
            wall, epochs = h.run_pipeline(feed, out)
        except Exception as e:
            tally.fail(f"poll: {type(e).__name__}: {e}")
            return
        done = time.perf_counter()
        tally.ok()
        for j in range(committed, committed + len(epochs)):
            fresh_ms.append((done - g.due(j)) * 1000)
        committed += len(epochs)
        polls.append({"wall": wall, "epochs": epochs, "backlog": backlog, "c0": c0,
                      "c1": h.engine.counters(), "spans0": spans0})

    try:
        while time.perf_counter() < t0 + seconds:
            poll()
    finally:
        g.stop_event.set()
        g.join(timeout=30)
    if g.error is not None:
        raise g.error
    # commit what the generator published before it stopped
    final = time.perf_counter() + 30
    while committed < g.published() and time.perf_counter() < final:
        poll()
    late_ms = [x * 1000 for x in g.late]
    if max(late_ms, default=0.0) > GEN_LATE_LIMIT_MS:
        tally.fail(f"generator fell {max(late_ms):.0f} ms behind schedule: run invalid")
    return {"polls": polls, "fresh_ms": fresh_ms, "published": g.published(),
            "committed": committed, "late_ms": late_ms}


def cdc(h: Harness, seed: int, seconds: float) -> dict:
    work = h.work
    dirs = {k: os.path.join(work, k) for k in ("backlog", "tail", "tail_out")}
    n_tail = TAIL_WARMUP_BATCHES + int(seconds * (1 - DRAIN_SHARE) / TAIL_INTERVAL_S) + 1
    tail_feed = gen.FeedSpec(customers=0, orders=n_tail * TAIL_ORDERS_PER_BATCH, key_base=TAIL_KEY_BASE)
    backlog = tail_batches = None

    def prepare():
        nonlocal backlog, tail_batches
        backlog = gen.generate_feed(DRAIN_FEED, DRAIN_BATCHES, seed)
        tail_batches = gen.generate_feed(tail_feed, n_tail, seed + 1)
        for k, (t, _) in enumerate(backlog):
            gen.publish_batch(t, dirs["backlog"], k)
        # one whole drain warms every code path the timed drains use
        h.run_pipeline(dirs["backlog"], os.path.join(work, "warm_out"))
        for k in range(TAIL_WARMUP_BATCHES):
            gen.publish_batch(tail_batches[k][0], dirs["tail"], k)
        h.run_pipeline(dirs["tail"], dirs["tail_out"])  # commits the warm-up batches
        h.run_pipeline(dirs["tail"], dirs["tail_out"])  # and one idle poll

    setup_s = _setup(h, prepare)
    tally = Tally()
    drains = _drain_phase(h, dirs["backlog"], backlog, seconds * DRAIN_SHARE, tally)
    tl = _tail_phase(
        h, dirs["tail"], dirs["tail_out"], [t for t, _ in tail_batches[TAIL_WARMUP_BATCHES:]],
        seconds * (1 - DRAIN_SHARE), tally,
    )
    peak = h.peak_rss_mb()
    for d in drains:
        _check_out(tally, d["out"], backlog)
    # every published tail batch, warm-up ones included, is committed once
    _check_out(tally, dirs["tail_out"], tail_batches[: TAIL_WARMUP_BATCHES + tl["published"]])

    rows = sum(t.num_rows for t, _ in backlog)
    drain_rate = median(rows / d["wall"] for d in drains)
    ep_ms = [_ms(e, "triggerExecution") for d in drains for e in d["epochs"]]
    ep_tail, ep_pct, ep_n = tail(ep_ms)
    fresh_p50 = median(tl["fresh_ms"])
    fresh_tail, fresh_pct, fresh_n = tail(tl["fresh_ms"])
    busy = [p for p in tl["polls"] if p["epochs"]]
    busy_s = sum(p["wall"] for p in busy)
    tail_rows = sum(t.num_rows for t, _ in tail_batches[TAIL_WARMUP_BATCHES:][: tl["committed"]])
    commit_rate = tail_rows / busy_s if busy_s else 0.0
    result = {
        "e2e": {
            "setup_s": setup_s, "peak_rss_mb": peak, "latency_p50_ms": fresh_p50,
            "latency_tail_ms": fresh_tail, "throughput_per_s": drain_rate,
        },
        "summary": {
            "drain_rows_per_s": {"value": drain_rate, "unit": "rows/s", "n": len(drains)},
            "epoch_p50_ms": {"value": median(ep_ms), "unit": "ms", "n": ep_n},
            "epoch_tail_ms": {"value": ep_tail, "unit": "ms", "percentile": ep_pct, "n": ep_n},
            "freshness_p50_ms": {"value": fresh_p50, "unit": "ms", "n": fresh_n},
            "freshness_tail_ms": {"value": fresh_tail, "unit": "ms", "percentile": fresh_pct,
                                  "n": fresh_n},
            "commit_rows_per_busy_s": {"value": commit_rate, "unit": "rows/s"},
            "gen_late_max_ms": {"value": max(tl["late_ms"], default=0.0), "unit": "ms"},
        },
        "samples": {
            "epoch_ms": ep_ms, "drain_s": [d["wall"] for d in drains],
            "freshness_ms": tl["fresh_ms"], "poll_s": [p["wall"] for p in tl["polls"]],
            "poll_epochs": [len(p["epochs"]) for p in tl["polls"]],
        },
        "tally": tally,
    }
    if h.tracer and drains:
        result["layers"] = _cdc_layers(h, drains, rows, tl, dirs["tail_out"])
    return result


def _cdc_layers(h: Harness, drains, rows: int, tl: dict, tail_out: str) -> dict:
    """Epoch, engine and sink numbers from the drain phase (its counts
    repeat exactly for a seed); poll numbers from the tail phase."""
    jobs, stages = h.engine.snapshot()
    epochs = [e for d in drains for e in d["epochs"]]
    n_ep = max(1, len(epochs))
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "exec_s": 0.0}
    sink_ms, metrics_ms = [], []
    for d in drains:
        w = window_stats(jobs, stages, d["c0"][0], d["c1"][0], d["c0"][1], d["c1"][1])
        for key in tot:
            tot[key] += w[key]
        # the i-th sink span of a drain belongs to its i-th epoch
        spans = [s for s in h.tracer.spans[d["spans0"]:] if s["name"] == "sinks.write_pipe_text"]
        for e, s in zip(d["epochs"], spans):
            sink_ms.append((s["end"] - s["start"]) * 1000)
            metrics_ms.append(_ms(e, "addBatch") - sink_ms[-1])
    files, size = _extract_files(drains[0]["out"])
    busy = [p for p in tl["polls"] if p["epochs"]]
    return {
        "engine.plan_ms": median(_ms(e, "queryPlanning") for e in epochs),
        **{f"engine.{k}": v / n_ep for k, v in tot.items()},
        "streaming.latest_offset_ms": median(_ms(e, "latestOffset") for e in epochs),
        "streaming.query_planning_ms": median(_ms(e, "queryPlanning") for e in epochs),
        "streaming.add_batch_ms": median(_ms(e, "addBatch") for e in epochs),
        "streaming.commit_ms": median(_ms(e, "walCommit") + _ms(e, "commitOffsets") for e in epochs),
        "streaming.epoch_metrics_ms": median(metrics_ms),
        "streaming.scan_amplification": sum(e["rows"] for e in epochs) / (rows * len(drains)),
        "streaming.poll_s": median(p["wall"] for p in busy),
        "streaming.idle_poll_s": median(p["wall"] for p in tl["polls"] if not p["epochs"]),
        "streaming.lifecycle_s": median(
            p["wall"] - sum(_ms(e, "triggerExecution") for e in p["epochs"]) / 1000 for p in busy
        ),
        "streaming.metrics_read_s": _metrics_read_s(h, tail_out),
        "streaming.backlog_max_batches": max((p["backlog"] for p in tl["polls"]), default=0),
        "sinks.write_pipe_text_ms": median(sink_ms),
        "sinks.files_per_epoch": files / DRAIN_BATCHES,
        "sinks.bytes_per_row": size / rows,
        "gen.late_max_ms": max(tl["late_ms"], default=0.0),
        "gen.late_tail_ms": tail(tl["late_ms"])[0],
    }


def _metrics_read_s(h: Harness, out: str) -> float:
    """Replays the metrics-directory read that closes every poll
    (``spark.read.schema(...).parquet(out/metrics)``), five times."""
    from cdc_extractor_spark.streaming.pipeline import EPOCH_METRICS_SCHEMA

    ts = []
    for _ in range(5):
        t0 = time.perf_counter()
        h.spark.read.schema(EPOCH_METRICS_SCHEMA).parquet(os.path.join(out, "metrics"))
        ts.append(time.perf_counter() - t0)
    return median(ts)


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


def _oracle_check(frames: dict, fixture: str, tally: Tally) -> dict:
    """Collect each query's DataFrame (as built in the first timed pass)
    and compare it with its DuckDB oracle over the same fixture files.
    Returns the seconds each side took per query."""
    import duckdb

    from cdc_extractor_spark.queries import ORACLES

    con = duckdb.connect()
    timings = {}
    try:
        for t in FIXTURE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(fixture, t)}.parquet'")
        for name, sdf in frames.items():
            try:
                t0 = time.perf_counter()
                cols = sorted(sdf.columns)
                srows = [tuple(r) for r in sdf.select(*cols).collect()]
                t1 = time.perf_counter()
                dcols = sorted(con.sql(ORACLES[name]).columns)
                drows = con.sql(
                    f"SELECT {', '.join(dcols)} FROM ({ORACLES[name]})"
                ).fetchall()
                timings[name] = {"spark_s": t1 - t0, "oracle_s": time.perf_counter() - t1}
            except Exception as e:
                tally.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            bad = oracle_mismatch(cols, srows, dcols, drows)
            if bad:
                tally.fail(f"{name}: {bad}")
            else:
                tally.ok()
    finally:
        con.close()
    return timings


def query_mix(h: Harness, seed: int, seconds: float) -> dict:
    from cdc_extractor_spark.io import load_table
    from cdc_extractor_spark.queries import QUERIES

    fixture = os.path.join(h.work, "fixture")

    def prepare():
        gen.write_fixture(FIXTURE, FIXTURE_SEED, fixture)
        for t in FIXTURE_TABLES:
            load_table(h.spark, fixture, t).count()
        for name in WARMUP_QUERIES:
            QUERIES[name](h.spark, fixture).write.format("noop").mode("overwrite").save()

    setup_s = _setup(h, prepare)
    tally = Tally()
    if h.tracer:
        h.tracer.patch_bindings(load_table, "io.load_table")

    rng = random.Random(seed)
    names = list(CDC_QUERIES + HEAVY_QUERIES)
    passes = []
    frames = {}  # the first pass's DataFrames, checked after timing
    deadline = time.perf_counter() + seconds
    # whole passes only: another starts if one more fits before the deadline
    while not passes or time.perf_counter() + passes[-1]["wall"] <= deadline:
        rng.shuffle(names)
        t_pass = time.perf_counter()
        recs = []
        for name in names:
            rec = {"name": name}
            try:
                t0 = time.perf_counter()
                with h.span("queries.build", query=name) as b:
                    df = QUERIES[name](h.spark, fixture)
                rec["build_s"] = time.perf_counter() - t0
                if h.tracer:
                    rec["plan_ms"] = _plan_ms(df)
                t1 = time.perf_counter()
                with h.span("engine.noop_write", query=name) as w:
                    df.write.format("noop").mode("overwrite").save()
                rec["write_s"] = time.perf_counter() - t1
                rec["wall_s"] = rec["build_s"] + rec["write_s"]
                rec["build_span"], rec["write_span"] = b, w
                frames.setdefault(name, df)
                tally.ok()
            except Exception as e:
                tally.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            recs.append(rec)
        passes.append({"wall": time.perf_counter() - t_pass, "queries": recs})
    peak = h.peak_rss_mb()
    if h.tracer:
        h.tracer.restore()
    oracle_s = _oracle_check(frames, fixture, tally)

    q_ms = [r["wall_s"] * 1000 for p in passes for r in p["queries"]]
    p50 = median(q_ms)
    tail_v, tail_p, n = tail(q_ms)
    mix_wall = median(p["wall"] for p in passes)
    n_q = len(names)
    result = {
        "e2e": {
            "setup_s": setup_s, "peak_rss_mb": peak, "latency_p50_ms": p50,
            "latency_tail_ms": tail_v, "throughput_per_s": n_q / mix_wall,
        },
        "summary": {
            "query_p50_s": {"value": p50 / 1000, "unit": "s", "n": n},
            "query_tail_s": {"value": tail_v / 1000, "unit": "s", "percentile": tail_p, "n": n},
            "mix_wall_s": {"value": mix_wall, "unit": "s", "n": len(passes)},
        },
        "oracle_check_s": oracle_s,
        "samples": {"pass_s": [p["wall"] for p in passes],
                    "query_ms": {r["name"]: r["wall_s"] * 1000 for p in passes for r in p["queries"]}},
        "tally": tally,
    }
    if h.tracer:
        result["layers"], result["per_query"] = _query_layers(h, passes)
        result["decomposition_outliers"] = [
            q for q in result["per_query"]
            if abs(q["residual_s"]) > max(RESIDUAL_SHARE * q["wall_s"], RESIDUAL_FLOOR_S)
        ]
    return result


def _plan_ms(df) -> float:
    """Analysis + optimization + planning of the query's own plan, from
    the engine's phase tracker (forces planning; traced runs only)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return float(sum(
        phases.apply(p).durationMs() for p in ("analysis", "optimization", "planning") if phases.contains(p)
    ))


def _query_layers(h: Harness, passes) -> tuple[dict, list]:
    jobs, stages = h.engine.snapshot()
    selft = self_times(h.tracer.spans)
    loads_by_parent: dict[int, list] = {}
    for s in h.tracer.named("io.load_table"):
        loads_by_parent.setdefault(s["parent"], []).append(s)

    per_pass = []
    per_query = []
    for p in passes:
        agg = {"load_calls": 0, "load_s": 0.0, "load_jobs": 0, "build_s": 0.0, "build_jobs": 0,
               "plan_ms": 0.0, "heavy_exec_s": 0.0}
        eng = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "exec_s": 0.0}
        for r in p["queries"]:
            b, w = r["build_span"], r["write_span"]
            loads = loads_by_parent.get(b["id"], [])
            load_jobs = sum(s["jobs1"] - s["jobs0"] for s in loads)
            wb = window_stats(jobs, stages, b["jobs0"], b["jobs1"], b["stages0"], b["stages1"])
            ww = window_stats(jobs, stages, w["jobs0"], w["jobs1"], w["stages0"], w["stages1"])
            agg["load_calls"] += len(loads)
            agg["load_s"] += sum(s["end"] - s["start"] for s in loads)
            agg["load_jobs"] += load_jobs
            agg["build_s"] += selft[b["id"]]
            agg["build_jobs"] += wb["jobs"] - load_jobs
            agg["plan_ms"] += r["plan_ms"]
            if r["name"] in HEAVY_QUERIES:  # their jobs, in the build and in the write
                agg["heavy_exec_s"] += wb["exec_s"] + ww["exec_s"]
            for k in eng:
                eng[k] += wb[k] + ww[k] if k != "exec_s" else ww[k]
            per_query.append({
                "name": r["name"], "wall_s": r["wall_s"], "build_s": r["build_s"],
                "build_exec_s": wb["exec_s"], "plan_s": r["plan_ms"] / 1000, "exec_s": ww["exec_s"],
                "residual_s": r["wall_s"] - r["build_s"] - r["plan_ms"] / 1000 - ww["exec_s"],
                "jobs": wb["jobs"] + ww["jobs"], "stages": wb["stages"] + ww["stages"],
                "tasks": wb["tasks"] + ww["tasks"],
            })
        per_pass.append({**agg, **{f"engine.{k}": v for k, v in eng.items()}})

    first = per_pass[0]

    def med(key):
        return median(pp[key] for pp in per_pass)

    layers = {
        "io.load_table_calls": first["load_calls"],
        "io.load_table_s": med("load_s"),
        "io.load_table_jobs": first["load_jobs"],
        "queries.build_s": med("build_s"),
        "queries.build_jobs": first["build_jobs"],
        "engine.plan_ms": med("plan_ms"),
        "engine.exec_s": med("engine.exec_s"),
        "engine.jobs": first["engine.jobs"],
        "engine.stages": first["engine.stages"],
        "engine.tasks": first["engine.tasks"],
        "engine.executor_run_s": med("engine.executor_run_s"),
        "engine.shuffle_write_bytes": first["engine.shuffle_write_bytes"],
        "engine.spill_bytes": first["engine.spill_bytes"],
        "functions.heavy_exec_s": med("heavy_exec_s"),
    }
    return layers, per_query


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

LAYER_METRICS = (
    ("session.start_s", "s"),
    ("io.load_table_calls", "count"), ("io.load_table_s", "s"), ("io.load_table_jobs", "count"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("engine.plan_ms", "ms"), ("engine.exec_s", "s"), ("engine.jobs", "count"),
    ("engine.stages", "count"), ("engine.tasks", "count"), ("engine.executor_run_s", "s"),
    ("engine.shuffle_write_bytes", "bytes"), ("engine.spill_bytes", "bytes"),
    ("functions.heavy_exec_s", "s"),
    ("streaming.latest_offset_ms", "ms"), ("streaming.query_planning_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.commit_ms", "ms"),
    ("streaming.epoch_metrics_ms", "ms"), ("streaming.scan_amplification", "ratio"),
    ("streaming.poll_s", "s"), ("streaming.idle_poll_s", "s"), ("streaming.lifecycle_s", "s"),
    ("streaming.metrics_read_s", "s"), ("streaming.backlog_max_batches", "count"),
    ("sinks.write_pipe_text_ms", "ms"), ("sinks.files_per_epoch", "count"),
    ("sinks.bytes_per_row", "bytes"),
    ("gen.late_max_ms", "ms"), ("gen.late_tail_ms", "ms"),
)
E2E_METRICS = (
    ("setup_s", "s"), ("peak_rss_mb", "MB"), ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"), ("throughput_per_s", "1/s"),
)
RUNNERS = {"cdc": cdc, "query_mix": query_mix}


def _local1_baseline(h: Harness, seed: int) -> dict:
    """One drain of the ``cdc`` backlog at ``local[1]``: the single-threaded
    scaling baseline recorded in traced artifacts (not gated)."""
    h.stop()
    h.start(master="local[1]")
    batches = gen.generate_feed(DRAIN_FEED, DRAIN_BATCHES, seed)
    feed = os.path.join(h.work, "local1_feed")
    for k, (t, _) in enumerate(batches):
        gen.publish_batch(t, feed, k)
    h.run_pipeline(feed, os.path.join(h.work, "local1_warm"))
    wall, epochs = h.run_pipeline(feed, os.path.join(h.work, "local1_out"))
    rows = sum(t.num_rows for t, _ in batches)
    return {"master": "local[1]", "drain_rows_per_s": rows / wall,
            "epoch_p50_ms": median(_ms(e, "triggerExecution") for e in epochs)}


def run(workload: str, seed: int, seconds: float, traced: bool, work: str, run_id: str,
        t_start: float) -> dict:
    h = Harness(work, run_id, traced, t_start)
    try:
        if traced:
            # also reaches the binding copied into streaming.pipeline
            import cdc_extractor_spark.streaming.pipeline  # noqa: F401
            from cdc_extractor_spark import sinks

            h.tracer.patch_bindings(sinks.write_pipe_text, "sinks.write_pipe_text")
        res = RUNNERS[workload](h, seed, seconds)
        if traced and workload == "cdc":
            res["local1_baseline"] = _local1_baseline(h, seed)
    finally:
        if h.tracer is not None:
            h.tracer.restore()
        h.shutdown()
    tally = res.pop("tally")
    if traced:
        layers = {k: 0.0 for k, _ in LAYER_METRICS}
        layers.update(res.get("layers", {}))
        layers["session.start_s"] = h.first_start_s
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in LAYER_METRICS}
    else:
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u} for k, u in E2E_METRICS}
    res["summary"]["failed_ratio"] = {"value": tally.failed_ratio, "unit": "fraction",
                                      "n": tally.attempted}
    res["summary"]["setup_s"] = {"value": res["e2e"]["setup_s"], "unit": "s"}
    res["summary"]["peak_rss_mb"] = {"value": res["e2e"]["peak_rss_mb"], "unit": "MB"}
    res.update({
        "workload": workload, "seed": seed, "seconds": seconds, "traced": traced,
        "traffic": traffic()[workload], "errors": tally.errors,
        "contract": {"correct": tally.failed == 0 and tally.attempted > 0,
                     "attempted": tally.attempted, "failed": tally.failed, "metrics": metrics},
    })
    if traced and h.tracer is not None:
        res["spans"] = h.tracer.spans
    return res
