"""logprocessor_spark benchmark.

    python3 perfbench/run.py --workload {bulk_ingest,daily_upsert,search_mix}
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Run from the repository root. ``--trace 0`` runs the workload's closed
loop for ``--seconds`` of timed calls and reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` runs the traced per-layer profile instead
and reports the per-layer metrics. The last stdout line is one JSON object
{correct, attempted, failed, metrics}; the full table (per-kind
percentiles with sample counts, warm-up walls, host stamp) is written to
``perfbench/results/``. Exits non-zero when any correctness check fails."""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
sys.path.insert(1, str(BENCH.parent))

from lpbench import engine, host, inputs, workloads  # noqa: E402


def _spec() -> dict:
    return json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def _emit(metrics: dict, names: list[dict], correct: bool, attempted: int, failed: int) -> None:
    out = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in names},
    }
    print(json.dumps(out, separators=(",", ":")), flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(inputs.SIZES), default="full")
    args = ap.parse_args()
    if not (BENCH.parent / "logprocessor_spark" / "__init__.py").is_file():
        print("logprocessor_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    spec = _spec()
    t_start = time.perf_counter()
    slowdown = host.canary_slowdown()
    engine.prepare_env()
    warm = inputs.prepare(args.workload, args.size, args.seed)
    spark, session_s = engine.start_session(event_log=bool(args.trace))
    try:
        stamp = host.stamp(spark, engine.master(), slowdown)
        if args.trace:
            from lpbench import profile

            spark, report = profile.run(spark, args, warm)
            metrics, names = report["metrics"], spec["per_layer"]
            attempted, failed = report["attempted"], report["failed"]
        else:
            warm_cycle, window = workloads.WORKLOADS[args.workload]
            setup_s, warm_walls = workloads.setup(
                spark, session_s, lambda s: warm_cycle(s, warm)
            )
            jvm = engine.jvm_pid(spark)
            t_window, cpu = time.perf_counter(), engine.cpu_seconds(jvm)
            tally = window(spark, args.size, args.seed, args.seconds)
            t_window, cpu = time.perf_counter() - t_window, engine.cpu_seconds(jvm) - cpu
            report = workloads.summary(tally, setup_s)
            report["session_s"] = session_s
            report["window_wall_s"] = t_window
            report["window_cpu_s"] = cpu
            report["warmup_walls_s"] = [round(w, 4) for w in warm_walls]
            report["errors"] = tally.errors[:20]
            report["peak_rss_mb"] = engine.peak_rss_mb(engine.jvm_pid(spark))
            metrics, names = report, spec["end_to_end"]
            attempted, failed = tally.attempted, tally.failed
    finally:
        engine.shutdown(spark)
    report["host"] = stamp
    report["wall_s"] = time.perf_counter() - t_start
    engine.RESULTS.mkdir(exist_ok=True)
    name = f"{args.workload}-{args.size}-s{args.seed}-t{args.trace}.json"
    (engine.RESULTS / name).write_text(json.dumps(report, indent=1, default=str))
    print(f"# host {json.dumps(stamp, separators=(',', ':'))}")
    print(f"# full table: perfbench/results/{name}")
    correct = failed == 0
    _emit(metrics, names, correct, attempted, failed)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
