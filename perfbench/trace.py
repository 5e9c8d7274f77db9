"""Spans around the package's public calls, engine counters read through
Spark's status store, and streaming progress from a query listener.

Spans are recorded only in traced runs; they are kept in memory and
written out when the run ends.  The progress listener is used in every
run: the engine's progress events are the source of the per-epoch
timings (``triggerExecution`` and its phases).
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from stats import union_length

PACKAGE = "cdc_extractor_spark"


class Engine:
    """Counters of one SparkContext, read through public driver objects.

    Job and stage ids are handed out sequentially, so the number of jobs
    (stages) a call launched is the difference of the next id before and
    after it.  Per-stage task counts, executor time and bytes come from
    the status store once the listener bus has drained.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self._gateway = spark.sparkContext._gateway
        self._jvm = spark._jvm

    def counters(self) -> tuple[int, int]:
        return self._dag.numTotalJobs(), self._dag.nextStageId()

    def jvm_pid(self) -> int:
        return int(self._jvm.java.lang.ProcessHandle.current().pid())

    def snapshot(self) -> tuple[dict, dict]:
        """``({job_id: (submit_ms, complete_ms)}, {stage_id: stats})`` for
        every retained job and stage."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs = {}
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                jobs[j.jobId()] = (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
        stages: dict[int, dict] = {}
        sl = store.stageList(None, False, False, self._gateway.new_array(self._jvm.double, 0), None)
        for i in range(sl.size()):
            s = sl.apply(i)
            st = stages.setdefault(
                s.stageId(), {"tasks": 0, "run_s": 0.0, "shuffle_write": 0, "spill": 0}
            )
            st["tasks"] += s.numCompleteTasks()
            st["run_s"] += s.executorRunTime() / 1000.0
            st["shuffle_write"] += s.shuffleWriteBytes()
            st["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return jobs, stages


def window_stats(jobs: dict, stages: dict, job_lo: int, job_hi: int, st_lo: int, st_hi: int) -> dict:
    """Engine totals for the jobs ``[job_lo, job_hi)`` and stages
    ``[st_lo, st_hi)`` launched inside one window."""
    out = {
        "jobs": job_hi - job_lo,
        "stages": st_hi - st_lo,
        "tasks": 0,
        "executor_run_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "exec_s": union_length(jobs[j] for j in range(job_lo, job_hi) if j in jobs),
    }
    for s in range(st_lo, st_hi):
        st = stages.get(s)
        if st:
            out["tasks"] += st["tasks"]
            out["executor_run_s"] += st["run_s"]
            out["shuffle_write_bytes"] += st["shuffle_write"]
            out["spill_bytes"] += st["spill"]
    return out


class Tracer:
    """In-memory spans: name, start, end, parent span, run id and the
    engine's job / stage counters at both ends.

    Calls made on another thread (the ``foreachBatch`` body runs on the
    py4j callback thread) take the main thread's innermost open span as
    their parent: that is the call that caused them.
    """

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.engine: Engine | None = None  # set once a session exists
        self.spans: list[dict] = []
        self._main_stack: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {"id": sid, "name": name, "parent": parent, "run_id": self.run_id, **attrs}
        if self.engine is not None:
            rec["jobs0"], rec["stages0"] = self.engine.counters()
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.engine is not None:
                rec["jobs1"], rec["stages1"] = self.engine.counters()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch_bindings(self, original, name: str) -> None:
        """Replace ``original`` at every module binding inside the
        package: ``from ..io import load_table`` copies the function
        into each importing module, so patching ``io`` alone would miss
        most calls."""
        wrapped = self.wrap(original, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._patched.append((mod, attr, original))
                    setattr(mod, attr, wrapped)

    def restore(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


class Progress(StreamingQueryListener):
    """Collects ``StreamingQueryProgress`` records; counts terminations
    so a caller can wait until a query's last progress has arrived."""

    def __init__(self):
        super().__init__()
        self.epochs: list[dict] = []
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._cv:
            self.epochs.append(
                {
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def wait_terminated(self, count: int, timeout: float = 30.0) -> bool:
        with self._cv:
            return self._cv.wait_for(lambda: self.terminated >= count, timeout)
