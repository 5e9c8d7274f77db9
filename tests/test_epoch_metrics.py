"""The CDC epoch body's per-epoch metrics rows (streaming/pipeline.py).

Fast, default-suite guard for ``run_cdc_pipeline``: each epoch is one
Spark job whose extract write also observes the watermark metrics; the
driver publishes one metrics row per epoch.  The feed is three small
batch files written with pyarrow (no Spark jobs), mixing two tables and
repeating transaction ids within and across rows.
"""

from __future__ import annotations

import os
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming import StreamingQueryListener

from cdc_extractor_spark.sinks import read_pipe_text
from cdc_extractor_spark.streaming.pipeline import (
    CHANGES_SCHEMA,
    EPOCH_METRICS_SCHEMA,
    publish_epoch_metrics,
    run_cdc_pipeline,
    windowed_counts_stream,
)
from cdc_extractor_spark.streaming.stateful import run_stateful_watermark

BATCH_ROWS = (7, 5, 9)
BASE_MS = 1_704_067_200_000


def _batch(first_event_id: int, n: int) -> pa.Table:
    ids = list(range(first_event_id, first_event_id + n))
    return pa.Table.from_pylist(
        [
            {
                "event_id": e,
                "table_name": ("customer", "orders")[e % 2],
                "transaction_id": e // 3,
                "commit_ts_ms": BASE_MS + (e // 3) * 1000,
                "action": "IUD"[e % 3],
                "key": e % 4,
                "val_cents": e * 10,
            }
            for e in ids
        ],
        schema=to_arrow_schema(CHANGES_SCHEMA),
    )


@pytest.fixture(scope="module")
def feed(tmp_path_factory) -> str:
    """``batch_0000i/part-0.parquet`` with strictly increasing mtimes, so
    epoch i scans batch i."""
    feed_dir = str(tmp_path_factory.mktemp("feed"))
    first = 1
    for i, n in enumerate(BATCH_ROWS):
        bdir = os.path.join(feed_dir, f"batch_{i:05d}")
        os.makedirs(bdir)
        path = os.path.join(bdir, "part-0.parquet")
        pq.write_table(_batch(first, n), path)
        os.utime(path, (1_700_000_000 + i,) * 2)
        first += n
    return feed_dir


def _truth(spark, feed_dir: str, tables: tuple[str, ...] | None = None) -> list[dict]:
    """One row per batch file: the old ``countDistinct`` aggregate."""
    df = spark.read.schema(CHANGES_SCHEMA).parquet(feed_dir + "/batch_*")
    epoch = F.regexp_extract(F.input_file_name(), r"batch_(\d+)", 1).cast("long")
    df = df.withColumn("epoch_id", epoch)
    if tables:
        df = df.filter(F.col("table_name").isin(*tables))
    rows = (
        df.groupBy("epoch_id")
        .agg(
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("transaction_id").alias("n_txns"),
            F.max("commit_ts_ms").alias("uptodate_ms"),
        )
        .collect()
    )
    return sorted((r.asDict() for r in rows), key=lambda r: r["epoch_id"])


def _rows(metrics) -> list[dict]:
    return sorted((r.asDict() for r in metrics.collect()), key=lambda r: r["epoch_id"])


class _Progress(StreamingQueryListener):
    def __init__(self):
        self.input_rows: list[int] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.input_rows.append(event.progress.numInputRows)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.set()


def test_one_row_per_epoch_equals_groupby_truth(spark, feed, tmp_path):
    metrics = run_cdc_pipeline(spark, feed, str(tmp_path / "out"))
    assert metrics.schema == EPOCH_METRICS_SCHEMA
    got = _rows(metrics)
    assert [r["epoch_id"] for r in got] == list(range(len(BATCH_ROWS)))
    assert got == _truth(spark, feed)
    # repeated xids: fewer distinct txns than rows in every epoch
    assert all(r["n_txns"] < r["n_rows"] for r in got)


def test_filter_that_empties_every_batch(spark, feed, tmp_path):
    """An epoch with zero rows after the table filter still publishes
    its row: zero counts, null bounds and watermark (the old aggregate
    over zero rows gave the same)."""
    metrics = run_cdc_pipeline(spark, feed, str(tmp_path / "out"), tables=("nope",))
    got = _rows(metrics)
    assert got == [
        {"epoch_id": i, "min_event_id": None, "max_event_id": None,
         "n_rows": 0, "n_txns": 0, "uptodate_ms": None}
        for i in range(len(BATCH_ROWS))
    ]
    assert _truth(spark, feed, tables=("nope",)) == []


def test_one_job_and_one_scan_per_epoch(spark, feed, tmp_path):
    listener = _Progress()
    spark.streams.addListener(listener)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    try:
        jobs0 = dag.numTotalJobs()
        run_cdc_pipeline(spark, feed, str(tmp_path / "out"))
        jobs = dag.numTotalJobs() - jobs0
        assert listener.terminated.wait(30)
    finally:
        spark.streams.removeListener(listener)
    n_epochs = len(BATCH_ROWS)
    assert jobs == n_epochs
    # the last progress of an availableNow run may be an empty trigger
    assert sum(listener.input_rows) == sum(BATCH_ROWS)
    assert [n for n in listener.input_rows if n] == list(BATCH_ROWS)


def test_empty_feed_returns_no_rows(spark, tmp_path):
    """No batch ever arrives, so no epoch publishes a row: the reference
    crashes on exactly this (WorkerRunnable.java:145)."""
    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    metrics = run_cdc_pipeline(spark, str(feed_dir), str(tmp_path / "out"))
    assert metrics.schema == EPOCH_METRICS_SCHEMA
    assert metrics.count() == 0


@pytest.mark.parametrize(
    "run",
    [run_cdc_pipeline, windowed_counts_stream, run_stateful_watermark],
    ids=lambda f: f.__name__,
)
def test_timeout_raises_and_stops_the_query(spark, feed, tmp_path, run):
    """One caller of each sink form: foreachBatch with a metrics read,
    the parquet sink, and an update-mode stateful foreachBatch."""
    with pytest.raises(TimeoutError):
        run(spark, feed, str(tmp_path / "out"), timeout_sec=0.001)
    assert spark.streams.active == []


def test_publish_replaces_the_row_of_a_replayed_epoch(spark, tmp_path):
    metrics_dir = str(tmp_path / "metrics")
    row = {"epoch_id": 3, "min_event_id": 1, "max_event_id": 9,
           "n_rows": 9, "n_txns": 3, "uptodate_ms": BASE_MS}
    publish_epoch_metrics(spark, metrics_dir, {**row, "n_rows": 99})
    publish_epoch_metrics(spark, metrics_dir, row)
    assert sorted(f for f in os.listdir(metrics_dir) if not f.startswith(".")) == [
        "epoch-00000000000000000003.parquet"
    ]
    got = spark.read.schema(EPOCH_METRICS_SCHEMA).parquet(metrics_dir).collect()
    assert [r.asDict() for r in got] == [row]


def test_replayed_epoch_keeps_one_metrics_row(spark, feed, tmp_path):
    """Drop the last epoch's commit marker and restart on the same
    checkpoint: the engine re-runs that epoch.  Its metrics row is
    replaced; its extract rows are appended a second time."""
    out = str(tmp_path / "out")
    first = _rows(run_cdc_pipeline(spark, feed, out))
    last = len(BATCH_ROWS) - 1
    commits = os.path.join(out, "checkpoint", "commits")
    for f in (str(last), f".{last}.crc"):
        os.remove(os.path.join(commits, f))
    assert _rows(run_cdc_pipeline(spark, feed, out)) == first
    extract = read_pipe_text(spark, out + "/extract")
    assert extract.count() == sum(BATCH_ROWS) + BATCH_ROWS[last]
