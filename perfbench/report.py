"""Human-readable tables and the tracing-overhead comparison."""

from __future__ import annotations

import json
import os


def _fmt(name: str, m: dict) -> str:
    v = m["value"]
    s = f"{name}={v:.4g} {m['unit']}"
    if "percentile" in m:
        s += f" (p{m['percentile']:.0f}, n={m['n']})"
    elif "n" in m:
        s += f" (n={m['n']})"
    return s


def table(rows, traced: bool) -> str:
    """One line per workload: every end-to-end metric by name and unit
    (and, for a traced run, every per-layer metric)."""
    lines = []
    for workload, res in rows:
        metrics = res["summary"]
        lines.append(f"{workload:<10} " + "  ".join(_fmt(k, m) for k, m in metrics.items()))
        if traced:
            layer = res["contract"]["metrics"]
            lines.append(f"{'':<10} " + "  ".join(_fmt(k, m) for k, m in layer.items()))
        if res["errors"]:
            lines.append(f"{'':<10} errors: " + "; ".join(res["errors"][:5]))
    return "\n".join(lines)


def add_overhead(result: dict, results_dir: str) -> None:
    """For a traced run, record its end-to-end numbers minus those of the
    untraced run of the same workload and seed, when one was made in
    this checkout."""
    if not result["traced"]:
        return
    path = os.path.join(results_dir, f"{result['workload']}_seed{result['seed']}_trace0.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        untraced = json.load(f)["e2e"]
    result["trace_overhead"] = {k: result["e2e"][k] - untraced[k] for k in untraced}
