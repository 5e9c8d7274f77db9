"""Structured Streaming CDC ingestion — the reference's coordinator /
worker / staleness-monitor topology re-expressed as one micro-batch
streaming query (SURVEY.md §3.2-3.4).

Mapping (SURVEY.md §3):
- coordinator poll loop (``CoordinatorRunnable.java:67-110``: sleep →
  ``max(event_id)`` → emit ``(lo, hi]`` task)  ≙  the file source's
  ``latestOffset`` per trigger; ``sleepDuration`` ≙ trigger interval;
  ``maxFilesPerTrigger=1`` makes one arriving file one epoch, exactly
  one ``Task``;
- worker epoch body (``WorkerRunnable.java:85-200``: range scan →
  stringify → append chunk file → distinct xids → commit-ts lookup →
  advance ``uptodate``)  ≙  ``foreachBatch`` below: the SAME pure
  batch operators (operators/changelog.py) applied to the epoch's
  DataFrame, then the A10 pipe sink append.  Like the reference's
  single range scan with a per-task xid ``HashSet``
  (``WorkerRunnable.java:87,130-131``), the batch is scanned ONCE: the
  watermark metrics are an ``Observation`` on the extract write, so an
  epoch is one Spark job;
- staleness monitor (``QueryRequestRunnable.java:30-54``)  ≙  the
  per-epoch metrics rows (``now − uptodate_ms``; the CLI's ``run``
  prints it) — no shared mutable ``uptodate`` static, no broken lock
  (§2 bug list).

The bounded task queue / backpressure (``Client.java:17``,
``ArrayBlockingQueue(10000)``) has no code here at all: trigger
pacing + ``maxFilesPerTrigger`` are the engine's backpressure.

Every streaming query in the package runs through ``run_available_now``:
it drains the available input, raises ``TimeoutError`` instead of
returning partial output, and always stops the query.  Results are read
back with their declared schemas and an absent result path reads back
as an empty frame (``read_or_empty``), so an empty feed yields zero rows
where the reference crashed (``WorkerRunnable.java:145``).

Scale: each epoch is a distributed job over the files' row groups; the
per-epoch metrics are one driver-side row per epoch (O(epochs), not
O(rows)).  Computing that row holds the epoch's distinct xids on the
driver (the merged ``collect_set`` buffer of the observed metrics):
O(distinct xids per epoch), the same bound as the reference's per-task
``HashSet``.  At 100 TB the identical pipeline runs with the feed dir on
object storage and a real trigger interval; nothing below assumes local
mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..sinks import write_pipe_text

# Fixed mtime base for feed files (any value works — only the ORDER
# matters to the file source; a constant keeps reruns identical).
_FEED_MTIME_BASE = 1_700_000_000

# The derived change-feed record (sources/changes.py, FIXTURES.md §2).
CHANGES_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("transaction_id", T.LongType()),
        T.StructField("commit_ts_ms", T.LongType()),
        T.StructField("action", T.StringType()),
        T.StructField("key", T.LongType()),
        T.StructField("val_cents", T.LongType()),
    ]
)

# One epoch's summary row — the analog of the reference's run-log /
# task-processing-time lines (CoordinatorRunnable.java:53-61, 123-130).
EPOCH_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("epoch_id", T.LongType()),
        T.StructField("min_event_id", T.LongType()),
        T.StructField("max_event_id", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_txns", T.LongType()),
        T.StructField("uptodate_ms", T.LongType()),
    ]
)

# The observed aggregates behind each metrics row, as SQL text: one JVM
# round trip per column.  On a 4-core host building them costs ~2 ms an
# epoch, against ~17 ms for the equivalent chain of ``F`` calls.
_EPOCH_METRIC_EXPRS = (
    "min(event_id) AS min_event_id",
    "max(event_id) AS max_event_id",
    "count(1) AS n_rows",
    "CAST(size(collect_set(transaction_id)) AS BIGINT) AS n_txns",
    "max(commit_ts_ms) AS uptodate_ms",
)


def _stamp_mtime(batch_dir: str, i: int) -> None:
    """Stamp every file of feed batch ``i`` with mtime base+i seconds.
    The file streaming source orders files by (modification time,
    path), and sub-second writes tie; strictly increasing stamps pin the
    file→epoch order, so epoch 0 always scans batch 0 (and the
    per-epoch results become oracle-stable)."""
    t = _FEED_MTIME_BASE + i
    for root, _, files in os.walk(batch_dir):
        for fn in files:
            os.utime(os.path.join(root, fn), (t, t))


def run_available_now(writer: DataStreamWriter, timeout_sec: float) -> StreamingQuery:
    """Start ``writer`` with the ``availableNow`` trigger, wait for it to
    drain every available input, and return the terminated query (its
    ``recentProgress`` stays readable).

    Raises ``TimeoutError`` if the query has not finished within
    ``timeout_sec`` (a query failure raises the engine's exception); the
    query is stopped on every exit, so no streaming thread outlives the
    call.
    """
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"streaming query {q.id} still running after {timeout_sec} s"
            )
    finally:
        q.stop()
    return q


def read_or_empty(
    spark: SparkSession, path: str, schema: T.StructType, **options: str
) -> DataFrame:
    """Read the parquet result at ``path`` with ``schema``; an absent
    path (no epoch ever wrote there, e.g. an empty feed) reads as an
    empty frame of the same schema."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).options(**options).parquet(path)


def sink_parquet(
    stream_df: DataFrame, result_dir: str, checkpoint_dir: str, timeout_sec: float
) -> DataFrame:
    """Append-mode parquet sink run through ``run_available_now``;
    returns everything the sink holds, read with ``stream_df``'s
    schema."""
    run_available_now(
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", result_dir)
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )
    return read_or_empty(stream_df.sparkSession, result_dir, stream_df.schema)


def sink_update_epochs(
    updates: DataFrame, result_dir: str, checkpoint_dir: str, timeout_sec: float
) -> DataFrame:
    """Update-mode sink for a stateful operator: each epoch's updated
    rows are appended to ``result_dir`` tagged with ``epoch_id``.
    Returns every update, read with ``updates``' schema plus
    ``epoch_id``."""

    def epoch_body(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.withColumn("epoch_id", F.lit(epoch_id).cast("long")).write.mode(
            "append"
        ).parquet(result_dir)

    run_available_now(
        updates.writeStream.foreachBatch(epoch_body)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )
    schema = T.StructType(
        [*updates.schema.fields, T.StructField("epoch_id", T.LongType())]
    )
    return read_or_empty(updates.sparkSession, result_dir, schema)


def write_feed_batches(changes: DataFrame, feed_dir: str, n_batches: int) -> list[tuple[int, int]]:
    """Materialize the change stream as ``n_batches`` arrival files in
    ``event_id`` order — the test-time stand-in for the audit table
    growing between coordinator polls.

    Returns the list of ``(lo, hi]`` ranges written (driver-side bounds
    only — the split is ntile-over-event_id SEMANTICS computed as the
    bucketed two-pass exact rank (partitioning.bucketed_global_rank)
    plus ntile's closed form on the rank, so no global single-task
    sort appears even when the feed is event-volume-sized (VERDICT r4
    #5); the batch boundaries are bit-identical to the former
    ``ntile(n) OVER (ORDER BY event_id)``, keeping every derived
    per-epoch oracle and cached feed valid.  Only bucket-count
    metadata and the n_batches (lo, hi) bounds rows ever reach the
    driver.
    """
    from ..partitioning import bucketed_global_rank, ntile_from_rank

    os.makedirs(feed_dir, exist_ok=True)
    # Pin the change stream once: the boundary pass, the bucket-count
    # pass, and every per-batch filter+write below re-read it.  N for
    # the ntile arithmetic falls out of the rank pass's counts.
    changes = changes.localCheckpoint()
    totals: dict[tuple, int] = {}
    bucketed = bucketed_global_rank(
        changes, "event_id", [], out="_rk", totals_out=totals
    ).withColumn(
        "_bucket", ntile_from_rank("_rk", n_batches, totals.get((), 0))
    )
    bounds = (
        bucketed.groupBy("_bucket")
        .agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi"))
        .orderBy("_bucket")
        .collect()
    )
    # empty stream: a filtered-to-nothing feed is a valid (if dull)
    # input — return zero ranges instead of IndexError on bounds[0]
    # (the reference crashes on exactly this: Collections.max of an
    # empty map, WorkerRunnable.java:145)
    if not bounds:
        return []
    # contiguous (lo, hi] ranges: each task's hi is the next task's lo,
    # exactly the coordinator's maxSeqID handoff (CoordinatorRunnable.java:87-92)
    ranges: list[tuple[int, int]] = []
    prev = bounds[0]["lo"] - 1
    for i, row in enumerate(bounds):
        lo, hi = prev, row["hi"]
        batch = changes.filter(
            (F.col("event_id") > lo) & (F.col("event_id") <= hi)
        )
        bdir = os.path.join(feed_dir, f"batch_{i:05d}")
        batch.coalesce(1).write.mode("overwrite").parquet(bdir)
        _stamp_mtime(bdir, i)
        ranges.append((lo, hi))
        prev = hi
    return ranges


def read_change_stream(spark: SparkSession, feed_dir: str) -> DataFrame:
    """The streaming scan of the change feed.  ``maxFilesPerTrigger=1``
    ≙ one coordinator Task per epoch (CoordinatorRunnable.java:88)."""
    return (
        spark.readStream.schema(CHANGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed_dir)
    )


def publish_epoch_metrics(spark: SparkSession, metrics_dir: str, row: dict) -> None:
    """Write one epoch's metrics row as
    ``metrics_dir/epoch-<epoch_id:020d>.parquet``.

    The row is serialised on the driver with pyarrow and written through
    Spark's Hadoop ``FileSystem`` (so any URI Spark can write
    works): first to a dot-prefixed temp file, which readers skip, then
    renamed into place.  A file already at the final name is deleted
    first, so a replayed epoch REPLACES its row instead of adding a
    second one.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    buf = pa.BufferOutputStream()
    pq.write_table(
        pa.Table.from_pylist([row], schema=to_arrow_schema(EPOCH_METRICS_SCHEMA)),
        buf,
    )
    Path = spark._jvm.org.apache.hadoop.fs.Path
    name = f"epoch-{row['epoch_id']:020d}.parquet"
    final, tmp = Path(metrics_dir, name), Path(metrics_dir, "." + name)
    fs = final.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, True)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise OSError(f"could not rename {tmp} to {final}")


def run_cdc_pipeline(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    timeout_sec: float = 120,
    tables: tuple[str, ...] | None = None,
) -> DataFrame:
    """Run the full §3.3 epoch body over every available batch and
    return the per-epoch metrics DataFrame.

    Per epoch (``foreachBatch``), ONE Spark job:
    1. A10: append the stringified extract, demuxed by table (B1), to
       ``out_dir/extract`` — the ``chunk*`` files;
    2. A6/A9: the same job observes min/max ``event_id``, the row
       count, the distinct txn count and max commit ts (an
       ``Observation`` on the extract write); the driver publishes them
       as ``out_dir/metrics/epoch-<epoch_id:020d>.parquet`` — the
       watermark advance.  The distinct txns are a ``collect_set``
       merged on the driver: O(distinct xids per epoch) driver memory.

    ``foreachBatch`` is at-least-once.  A replayed epoch rewrites its
    metrics file (one row per ``epoch_id``), but the extract append can
    still duplicate that epoch's rows.

    ``tables`` is the monitored-group restriction (-Dtables,
    ``Config.java:8-27``) applied as an ``In`` filter on the stream —
    pushed to the scan, never interpolated into SQL text.  An epoch the
    filter empties reports ``n_rows = n_txns = 0`` and null bounds and
    ``uptodate_ms``; an empty feed returns zero rows.

    Raises ``TimeoutError`` if the query has not finished within
    ``timeout_sec``; the query is stopped on every exit.
    """
    extract_dir = os.path.join(out_dir, "extract")
    metrics_dir = os.path.join(out_dir, "metrics")
    checkpoint_dir = os.path.join(out_dir, "checkpoint")

    def epoch_body(batch_df: DataFrame, epoch_id: int) -> None:
        obs = Observation()
        write_pipe_text(
            batch_df.observe(obs, *map(F.expr, _EPOCH_METRIC_EXPRS)),
            extract_dir,
            partition_by="table_name",
            mode="append",
        )
        publish_epoch_metrics(spark, metrics_dir, {"epoch_id": epoch_id, **obs.get})

    stream = read_change_stream(spark, feed_dir)
    if tables:
        stream = stream.filter(F.col("table_name").isin(*tables))
    run_available_now(
        stream.writeStream.foreachBatch(epoch_body).option(
            "checkpointLocation", checkpoint_dir
        ),
        timeout_sec,
    )
    return read_or_empty(spark, metrics_dir, EPOCH_METRICS_SCHEMA)


def windowed_counts_stream(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    watermark_delay: str = "90 seconds",
    timeout_sec: int = 120,
) -> DataFrame:
    """B5 streaming form: per-table per-minute change counts with an
    event-time watermark.

    Deliberate policy difference from the reference (SURVEY.md §2
    checklist): the reference silently skips any row whose ``event_id``
    lands below an already-polled high-water mark
    (CoordinatorRunnable.java:87).  Here late rows are accepted up to
    ``watermark_delay`` of event time and dropped only past it —
    bounded, documented, and engine-enforced.

    Watermark granularity note: Spark advances the watermark between
    micro-batches, and a window's final emission happens on the batch
    after the advance — so within one ``availableNow`` run a straggler
    can still land in not-yet-finalized state.  Across runs (restart on
    the same checkpoint) the recovered watermark is enforced
    immediately; tests/test_streaming.py pins both behaviors.
    """
    checkpoint_dir = os.path.join(out_dir, "wm_checkpoint")
    result_dir = os.path.join(out_dir, "wm_counts")
    stream = read_change_stream(spark, feed_dir).withColumn(
        "commit_ts", F.timestamp_millis(F.col("commit_ts_ms"))
    )
    agg = (
        stream.withWatermark("commit_ts", watermark_delay)
        .groupBy("table_name", F.window("commit_ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_changes"))
        .select(
            "table_name",
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "n_changes",
        )
    )
    return sink_parquet(agg, result_dir, checkpoint_dir, timeout_sec)


def run_streaming_dedup(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    watermark_delay: str = "1 hour",
    timeout_sec: int = 120,
) -> DataFrame:
    """Exactly-once delivery on an at-least-once feed: drop re-delivered
    change records by ``event_id`` with watermark-bounded state.

    A pull-based extractor that crashes between the range scan and the
    offset commit re-delivers the whole range on restart (the reference
    has no offset persistence at all — a restart re-reads from the
    fresh ``max(event_id)`` and silently *loses* the gap instead;
    §2 bug list).  ``dropDuplicatesWithinWatermark`` keeps one state
    entry per key only until the event-time watermark passes it —
    bounded state, unlike a global distinct.

    Scale: state is hash-partitioned on ``event_id`` across executors;
    per-epoch cost is one shuffle of the (small) epoch batch against
    the state store, never a rescan of history.
    """
    checkpoint_dir = os.path.join(out_dir, "dedup_checkpoint")
    result_dir = os.path.join(out_dir, "dedup_out")
    stream = read_change_stream(spark, feed_dir).withColumn(
        "commit_ts", F.timestamp_millis(F.col("commit_ts_ms"))
    )
    deduped = stream.withWatermark(
        "commit_ts", watermark_delay
    ).dropDuplicatesWithinWatermark(["event_id"])
    return sink_parquet(
        deduped.drop("commit_ts"), result_dir, checkpoint_dir, timeout_sec
    )


def run_stream_static_enrichment(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    dim,
    timeout_sec: int = 120,
):
    """Stream-static enrichment join: every change event joined to a
    static dimension table as it arrives — the streaming form of the
    reference's commit-ts scalar lookup (`WorkerRunnable.java:133-136`,
    a per-row JDBC round-trip there; a per-micro-batch broadcast hash
    join here).

    This is the one Structured Streaming join type the other streaming
    demos don't exercise: stateless (no watermark, no join state — the
    static side is re-resolved per epoch, so a dim refresh between
    epochs is picked up automatically), append-mode, with the dim
    broadcast by Catalyst exactly as in the batch plan.

    Scale: the stream side shuffles nothing; each epoch's task joins
    against the broadcast dim locally.  A dimension too large to
    broadcast would flip to a shuffled join per epoch — at that point
    pre-bucketing the dim on the join key is the standing fix
    (SCALE.md).
    """
    checkpoint_dir = os.path.join(out_dir, "sse_checkpoint")
    result_dir = os.path.join(out_dir, "sse_out")
    stream = read_change_stream(spark, feed_dir)
    joined = stream.join(
        F.broadcast(dim), stream["key"] == dim["c_custkey"], "inner"
    ).select(
        "event_id",
        "action",
        "key",
        "val_cents",
        F.col("c_nationkey").alias("nationkey"),
    )
    return sink_parquet(joined, result_dir, checkpoint_dir, timeout_sec)


def _lifetime_pairs(spark: SparkSession, feed_dir: str, how: str) -> DataFrame:
    """Each key's insert record joined (``how``: ``inner`` or
    ``leftOuter``) to its delete record arriving within one hour of
    event time, with the key's lifetime in ms.  Both inputs carry a 1 h
    watermark, which bounds the join state."""
    base = read_change_stream(spark, feed_dir).withColumn(
        "commit_ts", F.timestamp_millis(F.col("commit_ts_ms"))
    )
    inserts = (
        base.filter(F.col("action") == "I")
        .select(
            "table_name",
            "key",
            F.col("event_id").alias("insert_event_id"),
            F.col("commit_ts").alias("insert_ts"),
        )
        .withWatermark("insert_ts", "1 hour")
    )
    deletes = (
        base.filter(F.col("action") == "D")
        .select(
            F.col("table_name").alias("d_table"),
            F.col("key").alias("d_key"),
            F.col("event_id").alias("delete_event_id"),
            F.col("commit_ts").alias("delete_ts"),
        )
        .withWatermark("delete_ts", "1 hour")
    )
    return inserts.join(
        deletes,
        (F.col("table_name") == F.col("d_table"))
        & (F.col("key") == F.col("d_key"))
        & (F.col("delete_ts") >= F.col("insert_ts"))
        & (F.col("delete_ts") <= F.col("insert_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    ).select(
        "table_name",
        "key",
        "insert_event_id",
        "delete_event_id",
        (
            F.unix_millis(F.col("delete_ts")) - F.unix_millis(F.col("insert_ts"))
        ).alias("lifetime_ms"),
    )


def run_stream_stream_join(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    timeout_sec: int = 120,
) -> DataFrame:
    """Stream-stream interval join: each key's insert record joined to
    its delete record arriving within one hour of event time — the
    key-lifetime query (how long did a row live?), unanswerable with
    stream-static joins because BOTH sides keep arriving.

    Watermarks on both inputs bound the join state: an insert older
    than (watermark − 1 h) can never match a future delete, so the
    engine evicts it.  That is the reference's commit-ts machinery
    (WorkerRunnable.java:133-150) upgraded to two-sided state with a
    provable eviction rule instead of an unbounded in-memory map
    (§2 bug 5).

    Scale: state is hash-partitioned on the join key; per epoch each
    side shuffles only its new rows.  The time-range condition is what
    makes eviction possible — an unbounded stream-stream join would
    hold every row forever.
    """
    return sink_parquet(
        _lifetime_pairs(spark, feed_dir, "inner"),
        os.path.join(out_dir, "ssj_out"),
        os.path.join(out_dir, "ssj_checkpoint"),
        timeout_sec,
    )


def session_windows_stream(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    gap: str = "5 minutes",
    watermark_delay: str = "90 seconds",
    timeout_sec: int = 120,
) -> DataFrame:
    """Streaming sessionization: dynamic-gap ``session_window`` per
    table over the change feed — the streaming twin of the batch
    ``session_window_events`` query (burst detection on a CDC feed:
    one row per activity burst per table, not per fixed bucket).

    Session state merges windows as rows arrive (two bursts bridge
    into one session if a row lands in the gap), so unlike tumbling
    windows the state is per *open session*, closed and emitted in
    append mode only once the watermark passes ``end + delay``.
    Scale: state size is O(open sessions) = O(tables) here, bounded by
    the watermark — the same O(groups)-not-O(rows) posture as the
    stateful freshness operator."""
    checkpoint_dir = os.path.join(out_dir, "sess_checkpoint")
    result_dir = os.path.join(out_dir, "sess_out")
    stream = read_change_stream(spark, feed_dir).withColumn(
        "commit_ts", F.timestamp_millis(F.col("commit_ts_ms"))
    )
    agg = (
        stream.withWatermark("commit_ts", watermark_delay)
        .groupBy("table_name", F.session_window("commit_ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_changes"))
        .select(
            "table_name",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            F.unix_millis(F.col("w.end")).alias("session_end_ms"),
            "n_changes",
        )
    )
    return sink_parquet(agg, result_dir, checkpoint_dir, timeout_sec)


def run_stream_stream_left_outer_join(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    timeout_sec: int = 120,
) -> DataFrame:
    """LEFT-OUTER stream-stream join: every insert, paired with its
    in-range delete when one arrives, or emitted with NULL delete
    columns once the watermark PROVES none can — the "which rows are
    still live?" query that the inner interval join
    (run_stream_stream_join) cannot answer, because unmatched inserts
    simply never appear there.

    Outer-null emission is watermark-driven state machinery, not a
    per-batch join: an insert row is held in state until the two-sided
    watermark passes its join window's upper bound (insert_ts + 1 h +
    the 1 h tolerance), and only then emitted unmatched.  Because the
    file source's final batch never advances the watermark PAST its own
    rows, a bounded replay would silently swallow the trailing
    unmatched inserts; the caller's feed therefore ends with a far-
    future SENTINEL batch (one I + one D on the reserved key −1) whose
    only job is to push both watermarks beyond every real event.  A
    second ``availableNow`` start on the same checkpoint then applies
    the recovered watermark and flushes the remaining state (the
    restart-enforces-watermark behavior pinned in test_streaming.py) —
    after which the result is exactly the batch left join the oracle
    computes.

    Scale: identical state bound to the inner form — hash-partitioned
    on key, evicted at watermark; the outer variant adds no state,
    only the null-emission rule.
    """
    checkpoint_dir = os.path.join(out_dir, "ssloj_checkpoint")
    result_dir = os.path.join(out_dir, "ssloj_out")
    pairs = _lifetime_pairs(spark, feed_dir, "leftOuter")
    sink_parquet(pairs, result_dir, checkpoint_dir, timeout_sec)
    # restart on the same checkpoint: the recovered watermark (advanced
    # past the sentinel by run 1) applies immediately, flushing every
    # remaining unmatched insert as an outer-null row
    rows = sink_parquet(pairs, result_dir, checkpoint_dir, timeout_sec)
    return rows.filter(F.col("key") >= 0)


# Embedding-batch feed record (round 9: streaming index maintenance).
EMBEDDING_FEED_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("label", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)

# Running IVF index state: per-(cell, dim) partials — the persisted
# index relation (cells × dim rows, never data-sized).
_IVF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("label", T.LongType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("sum_micros", T.LongType()),
        T.StructField("n_vecs", T.LongType()),
    ]
)

IVF_EPOCH_SCHEMA = T.StructType(
    [
        T.StructField("epoch_id", T.LongType()),
        T.StructField("label", T.LongType()),
        T.StructField("n_total", T.LongType()),
        T.StructField("centroid_fp", T.LongType()),
    ]
)


def write_embedding_batches(
    embeddings: DataFrame, feed_dir: str, n_batches: int
) -> None:
    """Materialize the embeddings corpus as ``n_batches`` arrival files
    in contiguous vec_id ranges — new vectors arrive with increasing
    ids, the ingestion shape ivf_index_merge's ``vec_id >= split``
    contract models.  Batch membership is pure arithmetic
    (``least(vec_id·n div n_vecs, n−1)`` over dense ids), so a DuckDB
    oracle recomputes every epoch's cumulative state exactly.  Mtimes
    are stamped strictly increasing from the constant base, pinning the
    file→epoch order (same discipline as write_feed_batches)."""
    os.makedirs(feed_dir, exist_ok=True)
    embeddings = embeddings.localCheckpoint()
    n_vecs = embeddings.count()
    if n_vecs == 0:
        # `vec_id * n div 0` would be NULL for every row → zero feed
        # files → run_ivf_maintenance has no snapshots to read.  Fail
        # loudly at the source instead (ADVICE r9).
        raise ValueError("write_embedding_batches: embeddings table is empty")
    batched = embeddings.withColumn(
        "_b",
        F.least(
            F.expr(f"vec_id * {n_batches} div {n_vecs}"),
            F.lit(n_batches - 1),
        ),
    )
    for i in range(n_batches):
        bdir = os.path.join(feed_dir, f"batch_{i:05d}")
        (
            batched.filter(F.col("_b") == i)
            .select(
                F.col("vec_id").cast("long"),
                F.col("label").cast("long"),
                "embedding",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(bdir)
        )
        _stamp_mtime(bdir, i)


def run_ivf_maintenance(
    spark: SparkSession, feed_dir: str, out_dir: str, timeout_sec: int = 120
) -> DataFrame:
    """Streaming incremental IVF index maintenance (round 9): each
    micro-batch of newly arrived vectors folds into the persisted
    per-(cell, dim) partials — merge(index, batch partials), NEVER a
    rebuild from the raw corpus — and every epoch emits the serving
    snapshot (per cell: member count + integer centroid fingerprint).
    This is ivf_index_merge's contract run as a LIVE foreachBatch loop:
    the oracle recomputes each epoch's snapshot from scratch, so the
    value-hash match proves merge ≡ rebuild at every epoch, not just
    the final one.

    Arithmetic matches functions/similarity.ivf_index_merge exactly:
    components fixed-pointed to non-negative micros
    (floor((v+1)·1e6)), so partial sums are associative and the
    fingerprint's integer division agrees across engines.

    Scale shape: the per-epoch work is one map-side-combined aggregate
    over the BATCH (epoch-sized), one (cells × dim)-row merge with the
    persisted state, and a |cells|-row snapshot append.  The raw
    corpus is never re-read; state is re-written per epoch as
    cells × dim rows (KBs at any corpus size).  Epoch state dirs are
    versioned (state_{epoch}) — the previous epoch's files are still
    being read while the new one writes, the same
    write-new-then-publish discipline as every cache in the repo."""
    snap_dir = os.path.join(out_dir, "snapshots")
    checkpoint_dir = os.path.join(out_dir, "checkpoint")
    state_dir = os.path.join(out_dir, "state")
    os.makedirs(state_dir, exist_ok=True)
    # Layout guard (ADVICE r10): the final read sweeps snap_dir
    # recursively, so parquet files from the pre-r10 FLAT-append
    # layout sitting directly under snap_dir would be silently mixed
    # in as duplicate epoch rows.  An out_dir is either fresh or
    # already versioned (epoch_* subdirs only) — anything else is a
    # reused legacy directory and must fail loudly, not corrupt.
    if os.path.isdir(snap_dir):
        # every entry must be a versioned epoch_* dir or a marker
        # (_SUCCESS, .crc) — FILES from the flat layout and FOREIGN
        # SUBDIRS alike would be swept by the recursive final read
        legacy = [
            fn
            for fn in os.listdir(snap_dir)
            if not (
                fn.startswith((".", "_"))
                or (
                    fn.startswith("epoch_")
                    and os.path.isdir(os.path.join(snap_dir, fn))
                )
            )
        ]
        if legacy:
            raise ValueError(
                f"run_ivf_maintenance: {snap_dir} holds non-versioned "
                f"entries from a pre-versioned-layout run ({legacy[:3]}); "
                f"use a fresh out_dir"
            )

    def _partials(batch: DataFrame) -> DataFrame:
        comp = batch.select(
            F.col("label").cast("long").alias("label"),
            F.posexplode("embedding").alias("pos", "_v"),
        ).select(
            "label",
            "pos",
            F.floor(
                (F.col("_v").cast("double") + F.lit(1.0)) * 1_000_000
            ).cast("long").alias("micros"),
        )
        return comp.groupBy("label", "pos").agg(
            F.sum("micros").alias("sum_micros"),
            F.count(F.lit(1)).alias("n_vecs"),
        )

    def epoch_body(batch_df: DataFrame, epoch_id: int) -> None:
        prev = os.path.join(state_dir, f"state_{epoch_id - 1:05d}")
        cur = os.path.join(state_dir, f"state_{epoch_id:05d}")
        new = _partials(batch_df)
        if os.path.isdir(prev):
            old = spark.read.schema(_IVF_STATE_SCHEMA).parquet(prev)
            merged = (
                old.unionByName(new)
                .groupBy("label", "pos")
                .agg(
                    F.sum("sum_micros").alias("sum_micros"),
                    F.sum("n_vecs").alias("n_vecs"),
                )
            )
        else:
            merged = new
        merged.write.mode("overwrite").parquet(cur)
        (
            spark.read.schema(_IVF_STATE_SCHEMA)
            .parquet(cur)
            .groupBy("label")
            .agg(
                F.lit(epoch_id).cast("long").alias("epoch_id"),
                F.max("n_vecs").alias("n_total"),
                F.sum(F.expr("sum_micros div n_vecs")).alias("centroid_fp"),
            )
            .select("epoch_id", "label", "n_total", "centroid_fp")
            # Versioned per-epoch dir with overwrite, NOT a flat
            # append (ADVICE r9): foreachBatch is at-least-once, so a
            # retried micro-batch must replace its epoch's snapshot
            # rows, never duplicate them — same state_{epoch}
            # discipline as the index partials above.
            .write.mode("overwrite")
            .parquet(os.path.join(snap_dir, f"epoch_{epoch_id:05d}"))
        )

    stream = (
        spark.readStream.schema(EMBEDDING_FEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed_dir)
    )
    run_available_now(
        stream.writeStream.foreachBatch(epoch_body).option(
            "checkpointLocation", checkpoint_dir
        ),
        timeout_sec,
    )
    return read_or_empty(
        spark, snap_dir, IVF_EPOCH_SCHEMA, recursiveFileLookup="true"
    )
