"""Spark-free tests of the benchmark's own parts.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from checks import Tally, check_batches, oracle_mismatch  # noqa: E402
from stats import self_times, tail, union_length  # noqa: E402

SPEC = gen.FeedSpec(customers=300, orders=600)


def _metrics_rows(batches):
    """The metrics rows a correct pipeline writes for ``batches``."""
    return [
        {"epoch_id": i, "min_event_id": t.min_event_id, "max_event_id": t.max_event_id,
         "n_rows": t.n_rows, "n_txns": t.n_txns, "uptodate_ms": t.max_commit_ts_ms}
        for i, (_, t) in enumerate(batches)
    ]


def _extract_ids(batches):
    out: dict[str, list] = {}
    for table, _ in batches:
        for name, eid in zip(table.column("table_name").to_pylist(), table.column("event_id").to_pylist()):
            out.setdefault(name, []).append(eid)
    return {t: np.asarray(v, dtype=np.int64) for t, v in out.items()}


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


def test_same_seed_gives_identical_batches_and_truth():
    a = gen.generate_feed(SPEC, 4, seed=7)
    b = gen.generate_feed(SPEC, 4, seed=7)
    assert all(ta.equals(tb) for (ta, _), (tb, _) in zip(a, b))
    assert [t for _, t in a] == [t for _, t in b]


def test_different_seed_gives_different_batches():
    a = gen.generate_feed(SPEC, 4, seed=7)
    b = gen.generate_feed(SPEC, 4, seed=8)
    assert not any(ta.equals(tb) for (ta, _), (tb, _) in zip(a, b))
    assert [t for _, t in a] != [t for _, t in b]


def test_truth_matches_batch_contents():
    batches = gen.generate_feed(SPEC, 3, seed=1)
    sizes = [t.num_rows for t, _ in batches]
    assert max(sizes) - min(sizes) <= 1  # equal cut, as write_feed_batches makes
    prev_hi = -1
    for table, truth in batches:
        eid = table.column("event_id").to_pylist()
        assert eid == sorted(eid) and truth.min_event_id == eid[0] > prev_hi
        assert truth.max_event_id == eid[-1]
        assert truth.n_rows == len(eid)
        assert truth.n_txns == len(set(table.column("transaction_id").to_pylist()))
        assert sum(truth.rows_per_table.values()) == truth.n_rows
        prev_hi = truth.max_event_id
    assert table.schema == gen.FEED_SCHEMA


def test_events_follow_the_repository_change_rules():
    """Spot-check gen.change_events against the rules of
    cdc_extractor_spark/sources/changes.py."""
    ev = gen.change_events("customer", np.array([4, 7]), np.array([100, -5]))
    # key 4: 1 + 4 % 4 = 1 event; key 7: 1 + 7 % 4 = 4 events, I U U D
    assert ev["event_id"].tolist() == [32, 56, 57, 58, 59]
    assert ev["action"].tolist() == ["I", "I", "U", "U", "D"]
    assert ev["transaction_id"].tolist() == [10, 18, 19, 19, 19]
    assert ev["commit_ts_ms"].tolist() == [gen.BASE_MS + x * 1000 for x in (10, 18, 19, 19, 19)]
    assert ev["val_cents"].tolist() == [100, -5, -4, -3, -2]
    ev = gen.change_events("orders", np.array([5]), np.array([0]))
    # key 5: 1 + 5 % 3 = 3 events, the last a delete
    assert ev["event_id"].tolist() == [gen.ORDERS_OFFSET + 40 + s for s in range(3)]
    assert ev["action"].tolist() == ["I", "U", "D"]


def test_publish_batch_renames_complete_files_with_increasing_mtimes(tmp_path):
    feed = str(tmp_path / "feed")
    paths = [gen.publish_batch(t, feed, i) for i, (t, _) in enumerate(gen.generate_feed(SPEC, 3, seed=2))]
    assert sorted(os.listdir(feed)) == [os.path.basename(p) for p in paths]
    mtimes = [os.stat(p).st_mtime for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    assert os.listdir(feed + ".staging") == []


def test_fixture_is_seeded():
    spec = gen.FixtureSpec(customers=20, orders=50, parts=30, events=40, documents=10)
    a, b, c = (gen.fixture_tables(spec, s) for s in (3, 3, 4))
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["orders"].equals(c["orders"])
    assert a["lineitem"].column("l_orderkey").to_numpy().max() < spec.orders


def test_fixture_timestamps_are_naive_microseconds(tmp_path):
    """The repository's fixture files store these columns as naive
    microsecond timestamps, so io.load_table takes the same branch on the
    benchmark's fixture as on them."""
    import pyarrow.parquet as pq

    spec = gen.FixtureSpec(customers=20, orders=50, parts=30, events=40, documents=10)
    gen.write_fixture(spec, 1, str(tmp_path))
    for table, col in (("events", "ts"), ("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        f = pq.ParquetFile(str(tmp_path / f"{table}.parquet"))
        lt = f.schema.column(f.schema_arrow.get_field_index(col)).logical_type
        assert "isAdjustedToUTC=false" in str(lt) and "timeUnit=microseconds" in str(lt), (table, lt)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "n, index, pct",
    [(100, 89, 90.0), (30, 19, 200 / 3), (21, 10, 1100 / 21)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, index, pct):
    xs = list(range(n))[::-1]  # order must not matter
    value, percentile, count = tail(xs)
    assert (value, count) == (index, n)
    assert percentile == pytest.approx(pct)
    assert sum(1 for x in xs if x > value) == 10


def test_tail_without_enough_samples_falls_back_to_median():
    assert tail(range(15)) == (7.0, 50.0, 15)
    assert tail([]) == (0.0, 0.0, 0)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def _tally(errors, n_batches):
    t = Tally()
    for e in errors:
        t.fail(e)
    t.ok(n_batches - len(errors))
    return t


def test_correct_output_passes():
    batches = gen.generate_feed(SPEC, 4, seed=3)
    assert check_batches(_metrics_rows(batches), _extract_ids(batches), batches) == []


def test_missing_batch_counts_as_failed():
    batches = gen.generate_feed(SPEC, 4, seed=3)
    rows = _metrics_rows(batches)
    del rows[2]  # e.g. a poll that timed out before the last epochs
    ids = _extract_ids(batches[:2] + batches[3:])
    errors = check_batches(rows, ids, batches)
    assert errors == ["batch 2: 0 metrics rows"]
    assert _tally(errors, 4).failed_ratio == pytest.approx(0.25)


def test_mismatched_metrics_row_counts_as_failed():
    batches = gen.generate_feed(SPEC, 4, seed=3)
    rows = _metrics_rows(batches)
    rows[1]["n_txns"] += 1
    errors = check_batches(rows, _extract_ids(batches), batches)
    assert len(errors) == 1 and errors[0].startswith("batch 1: metrics")
    assert _tally(errors, 4).failed == 1


def test_replayed_batch_counts_as_failed():
    batches = gen.generate_feed(SPEC, 3, seed=3)
    rows = _metrics_rows(batches) + _metrics_rows(batches)[1:2]
    ids = _extract_ids(batches + batches[1:2])  # at-least-once replay of batch 1
    errors = check_batches(rows, ids, batches)
    assert any(e.startswith("batch 1: 2 metrics rows") for e in errors)


def test_extract_rows_lost_in_one_batch_fail_that_batch():
    batches = gen.generate_feed(SPEC, 3, seed=3)
    ids = _extract_ids(batches)
    lost = int(batches[2][0].column("event_id")[0].as_py())
    ids = {t: v[v != lost] for t, v in ids.items()}
    errors = check_batches(_metrics_rows(batches), ids, batches)
    assert errors == ["batch 2: 1 rows missing or duplicated in the extract"]


def test_oracle_mismatch():
    assert oracle_mismatch(["b", "a"], [(1, 2), (3, 4)], ["a", "b"], [(3, 4), (1, 2)]) is None
    assert oracle_mismatch(["a"], [(1,)], ["b"], [(1,)]).startswith("columns")
    assert oracle_mismatch(["a"], [(1,)], ["a"], [(1.0,)]) is not None  # repr-level
    assert oracle_mismatch(["a"], [(1,), (1,)], ["a"], [(1,)]) is not None  # multiset


# ---------------------------------------------------------------------------
# BENCHMARK.json
# ---------------------------------------------------------------------------


def test_benchmark_json_matches_the_metrics_the_runs_print():
    pytest.importorskip("pyspark")
    import workloads

    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [(m["name"], m["unit"]) for m in doc["end_to_end"]] == list(workloads.E2E_METRICS)
    assert [(m["name"], m["unit"]) for m in doc["per_layer"]] == list(workloads.LAYER_METRICS)
    assert [w["name"] for w in doc["workloads"]] == list(workloads.RUNNERS)
    assert max(m["bound"] for m in doc["end_to_end"]) == next(
        m["bound"] for m in doc["end_to_end"] if m["name"] == "setup_s"
    )
