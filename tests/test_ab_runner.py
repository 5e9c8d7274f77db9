"""The interleaved A/B runner (tools/ab.py) on tiny in-memory frames:
parity verdicts, per-side job counts and the alternating run order."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parent.parent / "tools"

# one range partition reports SinglePartition, so counting it needs no
# exchange: its count() is exactly one job, with or without AQE
SIDE_SRC = '''
def small(spark, sf_dir):
    return spark.range(0, 100, 1, 1).selectExpr("id % 7 AS k", "id")
'''


@pytest.fixture(scope="module")
def ab():
    spec = importlib.util.spec_from_file_location("ab", TOOLS / "ab.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _small(spark, sf_dir):
    return spark.range(0, 100, 1, 1).selectExpr("id % 7 AS k", "id")


def test_same_form_is_exact_with_equal_jobs(spark, ab, tmp_path):
    side = tmp_path / "side.py"
    side.write_text(SIDE_SRC)
    r = ab.ab(spark, _small, f"{side}:small", "unused", reps=2)
    assert r["parity"] == "EXACT" and r["rows"] == (100, 100)
    assert r["a"]["jobs"] == r["b"]["jobs"] >= 1
    assert r["a"]["stages"] == r["b"]["stages"]
    for s in "ab":
        assert len(r[s]["times"]) == 2
        assert r[s]["min_s"] == min(r[s]["times"]) <= r[s]["median_s"]


def test_extra_eager_count_is_one_more_job(spark, ab):
    def counted(spark, sf_dir):
        df = _small(spark, sf_dir)
        df.count()
        return df

    r = ab.ab(spark, _small, counted, "unused", reps=1)
    assert r["parity"] == "EXACT"
    assert r["b"]["jobs"] == r["a"]["jobs"] + 1


def test_different_rows_mismatch(spark, ab):
    def fewer(spark, sf_dir):
        return _small(spark, sf_dir).where("id < 99")

    r = ab.ab(spark, _small, fewer, "unused", reps=1)
    assert r["parity"] == "MISMATCH" and r["rows"] == (100, 99)


def test_first_side_alternates(spark, ab):
    calls = []

    def side(name):
        def fn(spark, sf_dir):
            calls.append(name)
            return _small(spark, sf_dir)

        return fn

    r = ab.ab(spark, side("a"), side("b"), "unused", reps=4)
    assert r["order"] == ["a", "b", "a", "b"]
    # parity a, b; warm a, b; then the timed reps in alternating order
    assert calls == ["a", "b", "a", "b"] + list("ab" "ba" "ab" "ba")
