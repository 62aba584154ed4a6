"""Smoke test of the benchmark itself.

    python3 perfbench/selftest.py

Checks, in order:
1. every ``BENCHMARK.json`` workload at ``--size tiny`` prints every
   end-to-end metric (``--trace 0``) with its unit, correct and exit 0;
2. a full-size traced ``bulk_ingest`` run prints every per-layer metric
   and passes the full-plan guard (the parse prefix executes
   ``regexp_extract`` and ``parse.s`` exceeds ``scan.s``);
3. the correctness gate flags a committed sink with one injected
   duplicate row;
4. in a directory holding only ``BENCHMARK.json`` and the benchmark's
   files, the command exits non-zero without printing a result."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

from lpbench import gate, inputs  # noqa: E402
from lpbench.engine import WORK  # noqa: E402


def _run(cwd: Path, workload: str, trace: int, size: str, seed: int = 11):
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
        "--seconds", "3", "--trace", str(trace), "--size", size,
    ]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines[-1] if lines else ""


def _check_emits(spec: dict, workload: str, trace: int, size: str) -> None:
    rc, last = _run(ROOT, workload, trace, size)
    out = json.loads(last)
    assert rc == 0 and out["correct"] and out["failed"] == 0, (workload, trace, last)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, last
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want, (workload, trace, sorted(set(want) ^ set(got)))
    assert len(last) < 1500 or trace, len(last)
    print(f"ok  {workload} trace={trace} size={size}: {len(got)} metrics", flush=True)


def _check_gate_flags_duplicate() -> None:
    import pyarrow.parquet as pq

    srcs = sorted(WORK.glob("cache/*/daily-tiny-*"))
    assert srcs, "run a tiny daily_upsert first"
    src = srcs[0]
    days = set(inputs.pages_days(src)[: inputs.SIZES["tiny"].snap_days])
    sink = WORK / "run" / "selftest-sink"
    shutil.rmtree(sink, ignore_errors=True)
    shutil.copytree(src / "snapshot", sink)
    routed = sink / "routed"
    assert gate.sink_violations(sink, src, days) == 0
    before = gate.routed_signature(routed)
    part = next(f for f in sorted(routed.rglob("*.parquet")) if "quarantine" not in str(f))
    table = pq.read_table(part, partitioning=None)
    pq.write_table(table.slice(0, 1), part.with_name("part-injected-dup.parquet"))
    assert gate.duplicate_ids(routed) == 1, "gate missed the injected duplicate"
    assert gate.survivor_violations(sink, src, days) == 1
    assert gate.sink_violations(sink, src, days) >= 2
    assert gate.routed_signature(routed) != before
    shutil.rmtree(sink)
    print("ok  gate flags one injected duplicate row", flush=True)


def _check_fails_without_program() -> None:
    bare = WORK / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(
        BENCH, bare / "perfbench",
        ignore=shutil.ignore_patterns(".work", "results", "__pycache__"),
    )
    rc, last = _run(bare, "bulk_ingest", 0, "tiny")
    shutil.rmtree(bare)
    assert rc != 0 and not last.startswith("{"), (rc, last)
    print(f"ok  bare checkout exits {rc} without a result", flush=True)


def main() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in spec["workloads"]:
        _check_emits(spec, w["name"], 0, "tiny")
    _check_emits(spec, "bulk_ingest", 1, "full")
    _check_gate_flags_duplicate()
    _check_fails_without_program()
    print("selftest ok")


if __name__ == "__main__":
    main()
