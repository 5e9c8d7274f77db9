"""Custom stateful streaming operator: per-table freshness watermark.

Reference analog: the shared static ``Timestamp uptodate`` advanced
under a broken lock (``WorkerRunnable.java:32,145-150`` — the lock is
taken on the object the critical section replaces) and read unsynchronized
by the staleness monitor (``QueryRequestRunnable.java:35``).  The
Spark-first replacement keeps the running maximum in engine-managed,
checkpointed per-group state via ``applyInPandasWithState`` — no shared
mutable statics, crash-safe, and per *table* rather than one global
(the obvious refinement the reference couldn't afford).  It is the
only implementation: the ``transformWithStateInPandas`` twin needed
``protobuf`` in the Python worker and was removed (SCALE.md, "Round-8:
stateful streaming").  The run goes through
``pipeline.sink_update_epochs``, so an empty feed returns zero rows.

Scale: state is one ``(max_commit_ts_ms, total_rows)`` pair per table —
O(tables), trivially partitioned by group key; Arrow-batched transfer
keeps the Python hop vectorized.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .pipeline import read_change_stream, sink_update_epochs

STATE_SCHEMA = T.StructType(
    [
        T.StructField("uptodate_ms", T.LongType()),
        T.StructField("total_rows", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("uptodate_ms", T.LongType()),
        T.StructField("total_rows", T.LongType()),
    ]
)


def _advance_watermark(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """uptodate' = max(uptodate, max(batch commit ts)) — the reference's
    guarded update (WorkerRunnable.java:146-150) as pure per-group state."""
    up, total = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        if len(pdf):
            up = max(up, int(pdf["commit_ts_ms"].max()))
            total += len(pdf)
    state.update((up, total))
    yield pd.DataFrame(
        {"table_name": [key[0]], "uptodate_ms": [up], "total_rows": [total]}
    )


def run_stateful_watermark(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    timeout_sec: int = 120,
) -> DataFrame:
    """Run the stateful watermark over every available feed batch; the
    returned frame holds one row per (epoch, table) — the per-table
    freshness series the staleness monitor sampled (§3.4)."""
    result_dir = os.path.join(out_dir, "state_out")
    checkpoint_dir = os.path.join(out_dir, "state_checkpoint")

    updates = read_change_stream(spark, feed_dir).groupBy(
        "table_name"
    ).applyInPandasWithState(
        _advance_watermark,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return sink_update_epochs(updates, result_dir, checkpoint_dir, timeout_sec)
