"""CLI entry point (python -m cdc_extractor_spark) — the reference's
process launch (`Client.java:11-49`) re-expressed; see __main__.py."""

from __future__ import annotations

import re

from cdc_extractor_spark.__main__ import main


def test_cli_list_marks_oracle_status(spark, capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "scan_changelog\toracle" in out
    # the registry has been fully oracled since round 3 — the PQ
    # flagship included; nothing may list as rows-only anymore
    assert "ann_pq_topk\toracle" in out
    assert "rows-only" not in out


def test_cli_query_runs_and_rejects_unknown(spark, capsys):
    assert main(["query", "pricing_summary", "--limit", "2"]) == 0
    assert "l_returnflag" in capsys.readouterr().out
    assert main(["query", "no_such_query"]) == 2


def test_cli_run_extracts_all_epochs(spark, sf_dir, tmp_path, capsys):
    rc = main(
        [
            "run",
            "--sf-dir", sf_dir,
            "--out", str(tmp_path / "out"),
            "--workers", "4",
            "--batches", "2",
            "--tables", "customer",
            "--run-duration-min", "2",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "epoch=0" in out and "epoch=1" in out
    # one freshness source: the staleness lines are read off the same
    # run's metrics rows, so they count only the monitored table's rows
    # (an epoch the filter empties has no uptodate and no staleness line)
    epochs = re.findall(r"^epoch=\d+ .* rows=(\d+) .* uptodate_ms=(\S+)$", out, re.M)
    stale = re.findall(r"^staleness batch=\d+ rows=(\d+) lag_ms=(-?\d+)$", out, re.M)
    assert sum(int(n) for n, _ in stale) == sum(int(n) for n, _ in epochs)
    assert len(stale) == sum(u != "None" for _, u in epochs)
    # the newest epoch is the run's "now": lags are >= 0 and its lag is 0
    assert min(int(lag) for _, lag in stale) == 0
    # the table restriction demuxes only the monitored table
    extract = tmp_path / "out" / "extract"
    parts = {p.name for p in extract.iterdir() if p.name.startswith("table_name=")}
    assert parts == {"table_name=customer"}


def test_cli_explain_prints_physical_plan(spark, capsys):
    from cdc_extractor_spark.__main__ import main

    assert main(["explain", "pricing_summary"]) == 0
    out = capsys.readouterr().out
    assert "== Physical Plan ==" in out
    assert "Scan parquet" in out
    assert main(["explain", "no_such_query"]) == 2
