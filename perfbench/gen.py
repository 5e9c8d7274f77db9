"""Seeded input generators for the benchmark (numpy + pyarrow, no Spark).

Two kinds of input:

- change-feed batches in the pipeline's ``CHANGES_SCHEMA`` column layout,
  each with the ground truth the per-epoch metrics row must reproduce;
- a small TPC-H-like fixture directory (the tables the ``query_mix``
  queries read), in the column layout of the query registry's fixtures.

The same seed always gives byte-identical tables and truth.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Mirrors the column order and types of streaming.pipeline.CHANGES_SCHEMA.
FEED_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("table_name", pa.string()),
        ("transaction_id", pa.int64()),
        ("commit_ts_ms", pa.int64()),
        ("action", pa.string()),
        ("key", pa.int64()),
        ("val_cents", pa.int64()),
    ]
)

BASE_MS = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC
MTIME_BASE = 1_700_000_000  # file mtimes: only their order matters

# The repository's derived change stream (cdc_extractor_spark/sources/
# changes.py, FIXTURES.md section 2): per table, the event-id offset and
# the cycle length m (a row with key k emits 1 + k % m events).
ORDERS_OFFSET = 10_000_000
CYCLES = {"customer": (4, 0), "orders": (3, ORDERS_OFFSET)}


@dataclass(frozen=True)
class FeedSpec:
    """Which source rows change.  Each changed row emits its events by
    the repository's derived change-stream rules; the seed picks the
    changed rows (half of the keys in each table's key range) and their
    values."""

    customers: int  # changed customer rows
    orders: int  # changed order rows
    key_base: int = 0  # keys are drawn from [key_base, key_base + 2 * rows)


@dataclass
class BatchTruth:
    """What the pipeline's metrics row for this batch must say."""

    n_rows: int
    n_txns: int
    min_event_id: int
    max_event_id: int
    max_commit_ts_ms: int
    rows_per_table: dict[str, int] = field(default_factory=dict)


def batch_truth(table: pa.Table) -> BatchTruth:
    eid = table.column("event_id").to_numpy()
    names, counts = np.unique(
        np.asarray(table.column("table_name").to_pylist()), return_counts=True
    )
    return BatchTruth(
        n_rows=table.num_rows,
        n_txns=int(np.unique(table.column("transaction_id").to_numpy()).size),
        min_event_id=int(eid.min()),
        max_event_id=int(eid.max()),
        max_commit_ts_ms=int(table.column("commit_ts_ms").to_numpy().max()),
        rows_per_table={str(n): int(c) for n, c in zip(names, counts)},
    )


def change_events(table: str, keys: np.ndarray, cents: np.ndarray) -> dict[str, np.ndarray]:
    """The change events of the rows ``keys`` (values ``cents``), by the
    rules of ``sources.changes``: ``1 + k % m`` events per row with
    ``seq = 0..k % m``, ``event_id = offset + 8k + seq``,
    ``transaction_id = event_id div 3``, ``commit_ts_ms = 2024-01-01 +
    transaction_id`` seconds, action ``I`` first, ``D`` last when the
    cycle is full, ``U`` otherwise, and ``val_cents = cents + seq``."""
    m, offset = CYCLES[table]
    n_ev = 1 + keys % m
    first = np.repeat(np.cumsum(n_ev) - n_ev, n_ev)
    seq = np.arange(int(n_ev.sum()), dtype=np.int64) - first
    key = np.repeat(keys, n_ev)
    event_id = offset + key * 8 + seq
    txn = event_id // 3
    action = np.where(seq == 0, "I", np.where(seq == m - 1, "D", "U")).astype(object)
    return {
        "event_id": event_id,
        "table_name": np.full(event_id.size, table, dtype=object),
        "transaction_id": txn,
        "commit_ts_ms": BASE_MS + txn * 1000,
        "action": action,
        "key": key,
        "val_cents": np.repeat(cents, n_ev) + seq,
    }


def generate_feed(spec: FeedSpec, n_batches: int, seed: int) -> list[tuple[pa.Table, BatchTruth]]:
    """The change stream of ``spec``'s changed rows, in ``event_id``
    order, cut into ``n_batches`` consecutive batches of equal row count
    (the first ones one row longer when it does not divide), as
    ``streaming.pipeline.write_feed_batches`` cuts it.  A transaction may
    straddle a batch boundary, as a coordinator's ``(lo, hi]`` cut does.
    """
    rng = np.random.default_rng(seed)
    # money as integer cents, in the fixtures' c_acctbal / o_totalprice ranges
    cents_range = {"customer": (-99_900, 999_900), "orders": (90_000, 50_000_000)}
    parts = []
    for table, n in (("customer", spec.customers), ("orders", spec.orders)):
        if n == 0:
            continue
        keys = spec.key_base + np.sort(rng.choice(2 * n, size=n, replace=False)).astype(np.int64)
        cents = rng.integers(*cents_range[table], size=n)
        parts.append(change_events(table, keys, cents))
    # customer event ids must stay below the orders' offset, as in the
    # repository's stream, so that event_id order is table order
    assert (spec.key_base + 2 * spec.customers) * 8 < ORDERS_OFFSET or not spec.customers
    cols = {c: np.concatenate([p[c] for p in parts]) for c in FEED_SCHEMA.names}
    order = np.argsort(cols["event_id"], kind="stable")
    table = pa.Table.from_arrays(
        [pa.array(cols[f.name][order], type=f.type) for f in FEED_SCHEMA], schema=FEED_SCHEMA
    )
    n = table.num_rows
    sizes = [n // n_batches + (1 if b < n % n_batches else 0) for b in range(n_batches)]
    out, lo = [], 0
    for size in sizes:
        t = table.slice(lo, size)
        out.append((t, batch_truth(t)))
        lo += size
    return out


def publish_batch(table: pa.Table, feed_dir: str, index: int) -> str:
    """Write one batch file so the streaming source never sees a partial
    file: write to a sibling staging directory, stamp the mtime (strictly
    increasing with ``index``: the file source orders files by mtime),
    then rename into ``feed_dir``."""
    staging = feed_dir.rstrip("/") + ".staging"
    os.makedirs(staging, exist_ok=True)
    os.makedirs(feed_dir, exist_ok=True)
    name = f"batch_{index:05d}.parquet"
    tmp = os.path.join(staging, name)
    pq.write_table(table, tmp)
    t = MTIME_BASE + index
    os.utime(tmp, (t, t))
    final = os.path.join(feed_dir, name)
    os.rename(tmp, final)
    return final


# ---------------------------------------------------------------------------
# query fixture
# ---------------------------------------------------------------------------

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_ADJ = ("small", "red", "large", "blue", "green", "metal", "tiny", "steel", "smooth", "bright")
_NOUN = ("ring", "widget", "bolt", "gear", "panel", "valve", "spring", "clip", "frame", "hinge")
_PTYPES = ("ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL")
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter index commit offset range worker chunk delta snapshot"
).split()
_LANGS = ("de", "en", "es", "fr", "zh")


@dataclass(frozen=True)
class FixtureSpec:
    customers: int = 1500
    orders: int = 15000
    lines_per_order: int = 4  # mean; 1..7 per order
    parts: int = 2000
    events: int = 10000
    documents: int = 500


def _ts_us(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), type=pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Money as an exact 2-decimal double (integer cents / 100)."""
    return rng.integers(lo * 100, hi * 100, size=n) / 100.0


def fixture_tables(spec: FixtureSpec, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    day_us = 86_400 * 1_000_000
    t1992 = 694_224_000 * 1_000_000  # 1992-01-01

    nc = spec.customers
    customer = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": rng.integers(0, 25, size=nc).astype(np.int32),
            "c_acctbal": _cents(rng, -999, 9999, nc),
            "c_mktsegment": np.asarray(_SEGMENTS, dtype=object)[rng.integers(0, 5, size=nc)],
        }
    )

    no = spec.orders
    orders = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, size=no).astype(np.int64),
            "o_orderstatus": np.asarray(("F", "O", "P"), dtype=object)[rng.integers(0, 3, size=no)],
            "o_totalprice": _cents(rng, 900, 500_000, no),
            "o_orderdate": _ts_us(t1992 + rng.integers(0, 3650, size=no) * day_us),
            "o_orderpriority": np.asarray(_PRIORITIES, dtype=object)[rng.integers(0, 5, size=no)],
        }
    )

    np_ = spec.parts
    part = pa.table(
        {
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 10, size=np_), rng.integers(0, 10, size=np_))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=np_)],
            "p_type": np.asarray(_PTYPES, dtype=object)[rng.integers(0, 5, size=np_)],
            "p_size": rng.integers(1, 51, size=np_).astype(np.int32),
            "p_retailprice": (90_000 + (np.arange(np_) % 1000) * 10) / 100.0,
        }
    )

    per_order = rng.integers(1, 2 * spec.lines_per_order, size=no)
    nl = int(per_order.sum())
    l_orderkey = np.repeat(np.arange(no, dtype=np.int64), per_order)
    l_linenumber = (np.arange(nl) - np.repeat(per_order.cumsum() - per_order, per_order) + 1)
    # uniform part choice, as in the repository's fixture files
    l_partkey = rng.integers(0, np_, size=nl).astype(np.int64)
    perm = rng.permutation(nl)
    lineitem = pa.table(
        {
            "l_orderkey": l_orderkey[perm],
            "l_partkey": l_partkey[perm],
            "l_suppkey": rng.integers(0, 100, size=nl).astype(np.int64),
            "l_linenumber": l_linenumber[perm].astype(np.int32),
            "l_quantity": rng.integers(1, 51, size=nl).astype(np.float64),
            "l_extendedprice": _cents(rng, 900, 100_000, nl),
            "l_discount": rng.integers(0, 11, size=nl) / 100.0,
            "l_tax": rng.integers(0, 9, size=nl) / 100.0,
            "l_returnflag": np.asarray(("A", "N", "R"), dtype=object)[rng.integers(0, 3, size=nl)],
            "l_linestatus": np.asarray(("F", "O"), dtype=object)[rng.integers(0, 2, size=nl)],
            "l_shipdate": _ts_us(t1992 + rng.integers(0, 3650, size=nl) * day_us),
        }
    )

    ne = spec.events
    t2024 = BASE_MS * 1000
    # January 2024, as in the repository's fixture files
    ev_ts = np.sort(rng.integers(0, 30 * day_us, size=ne))
    events = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": _ts_us(t2024 + ev_ts),
            "user_id": rng.integers(0, nc, size=ne).astype(np.int64),
            "event_type": np.asarray(_EVENT_TYPES, dtype=object)[rng.integers(0, 5, size=ne)],
            "value": _cents(rng, 0, 100, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=ne)],
        }
    )

    nd = spec.documents
    words = np.asarray(_WORDS, dtype=object)
    texts = []
    for d in range(nd):
        doc = list(words[rng.integers(0, len(words), size=int(rng.integers(20, 80)))])
        if d > 0 and rng.random() < 0.3:
            # copy a verbatim passage from an earlier document
            src = texts[int(rng.integers(0, d))].split(" ")
            lo = int(rng.integers(0, max(1, len(src) - 12)))
            at = int(rng.integers(0, len(doc)))
            doc[at:at] = src[lo : lo + 12]
        texts.append(" ".join(doc))
    documents = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": np.asarray(_LANGS, dtype=object)[rng.integers(0, 5, size=nd)],
            "source": [f"src{s}" for s in rng.integers(0, 20, size=nd)],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )
    return {
        "customer": customer,
        "orders": orders,
        "part": part,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
    }


def write_fixture(spec: FixtureSpec, seed: int, out_dir: str) -> dict[str, int]:
    """Write the fixture tables as ``<out_dir>/<table>.parquet``; returns
    the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in fixture_tables(spec, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
