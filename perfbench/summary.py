"""Fold a set of run records into medians and quartile spreads.

    python3 perfbench/summary.py [workload ...]

Reads every untraced record in ``perfbench/results/`` and writes
``perfbench/results/summary.json``: per workload, each end-to-end and named
metric's median, quartiles and spread (quartile distance over median),
and the per-entry board medians across runs. It never writes anywhere else.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

RESULTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "results")


def _stats(values: list[float]) -> dict:
    med = statistics.median(values)
    out = {"median": med, "n": len(values)}
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3, spread=(q3 - q1) / med if med else None)
    return out


def summarize(workloads: list[str]) -> dict:
    runs = defaultdict(list)
    for path in glob.glob(os.path.join(RESULTS, "*-trace0-*.json")):
        with open(path) as fh:
            rec = json.load(fh)
        if not workloads or rec["workload"] in workloads:
            runs[rec["workload"]].append(rec)
    out = {}
    for wl, recs in sorted(runs.items()):
        values = defaultdict(list)
        entries = defaultdict(list)
        for rec in recs:
            for k, m in {**rec["detail"], **rec["metrics"]}.items():
                if isinstance(m, dict) and isinstance(m.get("value"), (int, float)):
                    values[k].append(m["value"])
            for entry, s in rec["detail"].get("board_entry_median_s", {}).items():
                entries[entry].append(s)
        out[wl] = {
            "runs": len(recs),
            "seeds": sorted(r["seed"] for r in recs),
            "correct": all(not r["failures"] for r in recs),
            "metrics": {k: _stats(v) for k, v in sorted(values.items())},
            "board_entry_median_s": {e: _stats(v) for e, v in sorted(entries.items())},
        }
    return out


if __name__ == "__main__":
    summary = summarize(sys.argv[1:])
    with open(os.path.join(RESULTS, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    for wl, s in summary.items():
        print(wl, s["runs"], "runs, correct" if s["correct"] else "runs, FAILURES")
        for k, m in s["metrics"].items():
            print(f"  {k:22s} median {m['median']:.4g}  spread {m.get('spread')}")
