"""CI'd rotating EMPTY-INPUT sample (VERDICT r11 task #8).

The reference crashes on empty batches (SURVEY.md §5.2,
WorkerRunnable.java:145 NoSuchElementException).  Rounds 8-12 pinned
their own operators against that class per-round; round 12 ran the
full registry over a zero-row schema clone (tools/empty_sweep.py:
269/285 OK) and this module keeps that property from regressing with
the same deterministic rotation as test_invariance_sample: each round,
~SAMPLE_SIZE queries keyed on md5(round:name) re-run over the empty
fixture and must return a well-formed (possibly empty) DataFrame.

EXPECTED_RAISERS is the recorded exclusion ledger from the round-12
sweep — names whose empty-input behavior is a known finding, queued in
SCALE.md to be fixed when their vintage rotation makes the helper
drift free (fixing a frozen-green helper out-of-window costs driver
slots).  Shrinking this ledger is the ratchet; growing it should only
happen with a recorded rationale.
"""

from __future__ import annotations

import hashlib

import pytest

from tests.test_invariance_sample import current_round

SAMPLE_SIZE = 20

# Round-12 sweep findings (tools/empty_sweep.py), by class; round 13
# fixed its three rotating names in-window (zorder_clustered_skipping's
# int(None) bounds collect, source_file_lineage's empty-dir schema
# inference, funnel_conversion_window's ANSI div-by-zero) and removed
# them here — 15 -> 12 ledger names (the r12 sweep's "16 raisers"
# headline counted source_binaryfile_ingest, fixed in-window r12
# before the ledger froze).  The streaming run primitive
# (streaming/pipeline.py: run_available_now, read_or_empty) then fixed
# the eight streaming empty-dir round trips — an empty feed's result
# path reads back as an empty frame of the declared schema, and the
# dedup feed builder skips the re-delivery copy when there is no batch
# to copy — 12 -> 4 ledger names:
#   empty-dir round-trips — fixture staging writes ZERO files, the
#     read side then fails on a missing/schema-less path (production
#     ingest dirs always exist; the fix is pathGlobFilter/explicit
#     schemas, applied to source_binaryfile_ingest in-window r12):
EXPECTED_RAISERS = frozenset(
    {
        "dpp_pruned_revenue",
        "partitioned_sink_pruned_read",
        "sink_pipe_text",
        #   designed loud guard (raises a clear ValueError by contract):
        "streaming_ivf_maintenance",
    }
)

# ADVICE r12 closure: the ledger is a RATCHET — it may only shrink (or
# grow with a recorded rationale and an explicit edit HERE).  Freezing
# the exact contents means a regression that starts raising on empty
# input cannot hide by silently joining the exclusion set.
_LEDGER_FROZEN = frozenset(
    {
        "dpp_pruned_revenue",
        "partitioned_sink_pruned_read",
        "sink_pipe_text",
        "streaming_ivf_maintenance",
    }
)


def test_ledger_is_exactly_the_frozen_set():
    """Pin the ledger's exact contents (ADVICE r12): any growth must
    edit BOTH sets in the same reviewed change, with a rationale in
    the comment above EXPECTED_RAISERS."""
    assert EXPECTED_RAISERS == _LEDGER_FROZEN, (
        f"exclusion ledger drifted: "
        f"added={sorted(EXPECTED_RAISERS - _LEDGER_FROZEN)} "
        f"removed={sorted(_LEDGER_FROZEN - EXPECTED_RAISERS)}"
    )


def sample_for_round(rnd: int) -> list[str]:
    from cdc_extractor_spark.queries import QUERIES

    pool = sorted(set(QUERIES) - EXPECTED_RAISERS)
    keyed = sorted(
        pool,
        key=lambda n: hashlib.md5(f"empty:{rnd}:{n}".encode()).hexdigest(),
    )
    return sorted(keyed[:SAMPLE_SIZE])


def test_ledger_names_are_registered():
    from cdc_extractor_spark.queries import QUERIES

    unknown = sorted(EXPECTED_RAISERS - set(QUERIES))
    assert not unknown, f"stale exclusion-ledger names: {unknown}"


def test_rotation_actually_rotates():
    rnd = current_round()
    assert set(sample_for_round(rnd)) != set(sample_for_round(rnd - 1))


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.empty_sweep import make_empty_fixture

    base = str(tmp_path_factory.mktemp("empty_fixture"))
    return make_empty_fixture(spark, base)


@pytest.mark.parametrize("name", sample_for_round(current_round()))
def test_sampled_query_survives_empty_input(spark, empty_sf, name):
    from cdc_extractor_spark.queries import QUERIES

    rows = QUERIES[name](spark, empty_sf).collect()
    assert isinstance(rows, list)
