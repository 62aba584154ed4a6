"""Summarise ``perfbench/results/*.json`` as Markdown tables.

    python3 perfbench/tables.py [WORKLOAD ...]

Prints, per workload, the median and quartiles of every end-to-end figure
over the untraced runs, and the per-layer metrics of the traced runs
(median over runs), each with its run count and host stamp."""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

RESULTS = Path(__file__).resolve().parent / "results"
E2E = (
    "setup_s", "throughput_per_s", "call_p50_ms", "peak_rss_mb",
    "bulk_p50_ms", "bulk_p90_ms", "commit_p50_ms", "commit_p90_ms",
    "lookup_p50_ms", "lookup_p90_ms", "search_p50_ms", "search_p90_ms",
    "report_p50_ms", "error_rate", "calls", "wall_s",
)


def _load(workload: str, trace: int) -> list[dict]:
    return [
        json.loads(p.read_text())
        for p in sorted(RESULTS.glob(f"{workload}-full-s*-t{trace}.json"))
    ]


def _q(xs: list[float]) -> str:
    if len(xs) < 2:
        return f"{xs[0]:.4g}" if xs else "-"
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    spread = (q3 - q1) / q2 if q2 else 0.0
    return f"{q2:.4g} [{q1:.4g}, {q3:.4g}] spread {spread:.3f}"


def main(workloads: list[str]) -> None:
    for w in workloads:
        runs = _load(w, 0)
        if runs:
            print(f"\n### {w}: end to end, {len(runs)} untraced runs "
                  f"(median [q1, q3], spread = (q3-q1)/median)\n")
            print("| figure | value |\n|---|---|")
            for k in E2E:
                xs = [r[k] for r in runs if k in r]
                if xs:
                    print(f"| `{k}` | {_q(xs)} |")
            print(f"\nhost: {json.dumps(runs[-1]['host'])}")
        traced = _load(w, 1)
        if traced:
            print(f"\n### {w}: per layer, {len(traced)} traced run(s) (median)\n")
            print("| metric | value |\n|---|---|")
            for k in traced[0]["metrics"]:
                xs = [t["metrics"][k] for t in traced]
                print(f"| `{k}` | {statistics.median(xs):.4g} |")


if __name__ == "__main__":
    main(sys.argv[1:] or ["bulk_ingest", "daily_upsert", "search_mix"])
