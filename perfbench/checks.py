"""Output checks and failure accounting (no Spark).

Every check runs outside the timed region.  A failed operation is one
of: a query that raises or disagrees with its DuckDB oracle, a poll or
drain call that raises, or a change batch whose metrics row or extract
rows are missing or wrong.
"""

from __future__ import annotations

import glob
import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from gen import BatchTruth


@dataclass
class Tally:
    """Attempted / failed operation counts plus the first few reasons."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, reason: str, n: int = 1) -> None:
        self.attempted += n
        self.failed += n
        if len(self.errors) < 20:
            self.errors.append(reason)

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def read_metrics_rows(metrics_dir: str) -> list[dict]:
    """The pipeline's per-epoch metrics rows (parquet part files)."""
    if not glob.glob(os.path.join(metrics_dir, "*.parquet")):
        return []
    return pq.read_table(metrics_dir).to_pylist()


def read_extract_ids(extract_dir: str) -> dict[str, np.ndarray]:
    """``event_id``s per ``table_name`` partition of the pipe-delimited
    extract, duplicates kept."""
    out: dict[str, list] = {}
    opts = pacsv.ParseOptions(delimiter="|")
    conv = pacsv.ConvertOptions(column_types={"event_id": pa.int64()}, include_columns=["event_id"])
    for part in glob.glob(os.path.join(extract_dir, "table_name=*")):
        table = os.path.basename(part).split("=", 1)[1]
        for f in glob.glob(os.path.join(part, "part-*")):
            ids = pacsv.read_csv(f, parse_options=opts, convert_options=conv).column("event_id")
            out.setdefault(table, []).append(ids.to_numpy())
    return {t: np.concatenate(v) for t, v in out.items()}


def check_batches(
    metrics_rows: list[dict],
    extract_ids: dict[str, np.ndarray],
    batches: list[tuple[pa.Table, BatchTruth]],
) -> list[str]:
    """One error string per failed batch (plus one per set of stray
    metrics rows and one for stray extract rows).

    A batch passes when exactly one metrics row carries its event range
    and that row equals the generator's truth, and when every one of its
    ``(table_name, event_id)`` pairs appears exactly once in the extract.
    """
    bad: dict[int, str] = {}  # batch index -> first reason
    stray = []
    by_min: dict[int, list[dict]] = {}
    for r in metrics_rows:
        by_min.setdefault(r["min_event_id"], []).append(r)
    for i, (_, truth) in enumerate(batches):
        rows = by_min.pop(truth.min_event_id, [])
        want = (truth.max_event_id, truth.n_rows, truth.n_txns, truth.max_commit_ts_ms)
        if len(rows) != 1:
            bad[i] = f"batch {i}: {len(rows)} metrics rows"
            continue
        r = rows[0]
        got = (r["max_event_id"], r["n_rows"], r["n_txns"], r["uptodate_ms"])
        if got != want:
            bad[i] = f"batch {i}: metrics {got} != truth {want}"
    for m, rows in by_min.items():
        stray.append(f"{len(rows)} metrics rows for unknown range starting at {m}")

    expected: dict[str, list] = {}
    for table, _ in batches:
        names = np.asarray(table.column("table_name").to_pylist(), dtype=object)
        eids = table.column("event_id").to_numpy()
        for t in np.unique(names):
            expected.setdefault(str(t), []).append(eids[names == t])
    want_ids = {t: np.sort(np.concatenate(v)) for t, v in expected.items()}
    got_ids = {t: np.sort(v) for t, v in extract_ids.items()}
    if want_ids.keys() == got_ids.keys() and all(
        np.array_equal(want_ids[t], got_ids[t]) for t in want_ids
    ):
        return list(bad.values()) + stray
    # slow path: attribute the difference to batches
    seen = Counter()
    for t, ids in extract_ids.items():
        seen.update((t, int(i)) for i in ids)
    for i, (table, _) in enumerate(batches):
        pairs = zip(table.column("table_name").to_pylist(), table.column("event_id").to_pylist())
        wrong = 0
        for p in pairs:
            wrong += seen.get(p) != 1
            seen.pop(p, None)
        if wrong:
            bad.setdefault(i, f"batch {i}: {wrong} rows missing or duplicated in the extract")
    if seen:
        stray.append(f"extract holds {sum(seen.values())} rows of no batch")
    return [bad[i] for i in sorted(bad)] + stray


def rows_multiset(rows) -> Counter:
    """Order-insensitive, repr-level row multiset (stricter than a value
    hash: 1.0 and 1 differ, as do float bit patterns)."""
    return Counter(tuple(repr(v) for v in row) for row in rows)


def oracle_mismatch(
    spark_cols: list[str], spark_rows, duck_cols: list[str], duck_rows
) -> str | None:
    """``None`` when both sides hold the same columns (by name) and the
    same multiset of rows; otherwise a short reason."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} != {sorted(duck_cols)}"
    s, d = rows_multiset(spark_rows), rows_multiset(duck_rows)
    if s != d:
        return (
            f"{sum(s.values())} vs {sum(d.values())} rows; "
            f"spark-only {list((s - d).items())[:1]} oracle-only {list((d - s).items())[:1]}"
        )
    return None
