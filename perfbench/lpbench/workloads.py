"""The three closed-loop workloads: one client, one call at a time.

* ``bulk_ingest``  — one ``run_pipeline`` over every day of a seeded pages
  table into an empty sink, repeated.
* ``daily_upsert`` — ``run_pipeline(partitions=[day])`` for each day of a
  block, in order, starting from a restored snapshot in which the earlier
  days are committed; repeated block by block.
* ``search_mix``   — a seeded mix of point lookups, searches and aggregate
  reports against a committed sink.

Only the client calls are timed. Snapshot restores, input generation and
the correctness gate run between calls, outside the timed regions. Every
call's outcome is checked; a call that raises or fails a check counts as
failed."""

from __future__ import annotations

import random
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from . import gate, inputs
from .engine import WORK

# Warm-up calls until the walls stop falling, measured on a 4-vCPU host:
# over 14 cold starts the one-day walls fell 65-80% to the second call and
# up to 30% more by the fourth; the fifth took 0.89-1.32x the fourth
# (median 1.0).
WARM_CALLS = 4
MAX_CRASHES = 3  # a window stops early after this many raising calls
RUN = WORK / "run"


@dataclass
class Tally:
    """What one measured window did."""

    unit: str  # what ``units`` counts
    walls: dict[str, list[float]] = field(default_factory=dict)  # kind -> s
    units: int = 0
    attempted: int = 0
    failed: int = 0
    crashed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, kind: str, wall: float, units: int, violations: int) -> None:
        self.walls.setdefault(kind, []).append(wall)
        self.units += units
        self.attempted += 1
        if violations:
            self.failed += 1
            self.errors.append(f"{kind}: {violations} correctness violation(s)")

    def crash(self, kind: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.crashed += 1
        self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")

    def more(self, seconds: float) -> bool:
        """Whether the window goes on: ``seconds`` of timed calls not yet
        spent and the program not failing outright."""
        return self.timed < seconds and self.crashed < MAX_CRASHES

    @property
    def timed(self) -> float:
        return sum(sum(v) for v in self.walls.values())

    @property
    def all_walls(self) -> list[float]:
        return [w for v in self.walls.values() for w in v]


def percentile(xs: list[float], p: float) -> float | None:
    """Nearest-rank percentile."""
    if not xs:
        return None
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(round(p / 100 * len(s) + 0.5)) - 1))]


def _fresh(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.parent.mkdir(parents=True, exist_ok=True)
    return path


def _restore(snapshot: Path, path: Path) -> Path:
    shutil.copytree(snapshot, _fresh(path))
    return path


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


# --- set-up ---------------------------------------------------------------


def setup(spark, session_s: float, warm_cycle):
    """The cold set-up: ``session_s`` (JVM launch and session start), then
    ``WARM_CALLS`` warm-up calls on the fixed warm-up input.
    ``warm_cycle(spark)`` opens per-session state and returns (prep, call);
    ``prep`` is untimed, ``call`` is timed.

    Returns (set-up seconds, warm-up walls)."""
    (prep, call), open_s = _timed(lambda: warm_cycle(spark))
    walls = []
    for _ in range(WARM_CALLS):
        prep()
        walls.append(_timed(call)[1])
    return session_s + open_s + sum(walls), walls


# --- bulk_ingest ----------------------------------------------------------


def warm_ingest(spark, warm: Path):
    """Warm-up of both ingest workloads: the one-day call, the task shape
    every ingest call shares, on the last warm-up day from a sink with the
    earlier days committed."""
    from logprocessor_spark.job import run_pipeline

    out = RUN / "warm-ingest"
    nxt = inputs.pages_days(warm)[-1]
    return (
        lambda: _restore(warm / "snapshot", out),
        lambda: run_pipeline(
            spark, str(warm / "pages"), str(out), run_id="warm", partitions=[nxt]
        ),
    )


def run_bulk(spark, size: str, seed: int, seconds: float) -> Tally:
    from logprocessor_spark.job import run_pipeline

    src = inputs.seeded_pages(size, seed)
    days, reference = inputs.pages_days(src), inputs.reference(src)
    tally = Tally(unit="docs")
    out = RUN / "bulk"
    k = 0
    while tally.more(seconds):
        _fresh(out)
        run_id = f"bulk-{k}"
        k += 1
        try:
            res, wall = _timed(
                lambda: run_pipeline(spark, str(src / "pages"), str(out), run_id=run_id)
            )
        except Exception:
            tally.crash("bulk")
            continue
        bad = gate.sink_violations(out, src, set(days))
        bad += gate.commit_violations(out, run_id, days)
        bad += res.processed_partitions != days
        bad += gate.routed_signature(out / "routed") != reference
        tally.record("bulk", wall, res.rows_in, bad)
    return tally


# --- daily_upsert ---------------------------------------------------------


def run_daily(spark, size: str, seed: int, seconds: float) -> Tally:
    from logprocessor_spark.job import run_pipeline

    s = inputs.SIZES[size]
    src = inputs.daily_input(size, seed)
    days, reference = inputs.pages_days(src), inputs.reference(src)
    block = days[s.snap_days : s.snap_days + s.block_days]
    tally = Tally(unit="docs")
    out = RUN / "daily"
    b = 0
    # whole blocks only, so every window has the same mix of reconcile
    # rewrite days (one per block) and early-exit days
    while tally.more(seconds):
        _restore(src / "snapshot", out)
        for d in block:
            run_id = f"b{b}-{d}"
            try:
                res, wall = _timed(
                    lambda: run_pipeline(
                        spark, str(src / "pages"), str(out), run_id=run_id,
                        partitions=[d],
                    )
                )
            except Exception:
                tally.crash("commit")
                break
            # a later day's reconcile may rewrite this day, so its ledger
            # and metrics are checked now; the sink once the block is done
            bad = gate.commit_violations(out, run_id, [d])
            bad += res.processed_partitions != [d]
            if d == block[-1]:  # a finished block equals one bulk run
                bad += gate.sink_violations(out, src, set(days))
                bad += gate.routed_signature(out / "routed") != reference
            tally.record("commit", wall, res.rows_in, bad)
        b += 1
    return tally


# --- search_mix -----------------------------------------------------------

MIX = (("lookup_hit", 40), ("lookup_miss", 20), ("search", 30), ("report", 10))


def _queries(rng: random.Random) -> list[str]:
    from logprocessor_spark.synth import LANG_WORDS

    words = sorted({w for ws in LANG_WORDS.values() for w in ws})
    forms = [
        lambda: rng.choice(words),
        lambda: " ".join(rng.sample(words, 2)),
        lambda: rng.choice(words)[:2] + "*",
        lambda: "?" + rng.choice(words)[1:],
        lambda: rng.choice(words) + " " + rng.choice(words)[:3] + "*",
    ]
    return [rng.choice(forms)() for _ in range(64)]


def requests(ids: list[str], seed: int, n: int = 2000) -> list[tuple[str, str]]:
    """Seeded closed-loop request sequence of (kind, argument)."""
    rng = random.Random(seed)
    qs = _queries(rng)
    kinds = [k for k, w in MIX for _ in range(w)]
    out = []
    for _ in range(n):
        kind = rng.choice(kinds)
        arg = {
            "lookup_hit": lambda: rng.choice(ids),
            "lookup_miss": lambda: f"msg-absent-{rng.randrange(10**9)}",
            "search": lambda: rng.choice(qs),
            "report": lambda: "",
        }[kind]()
        out.append((kind, arg))
    return out


def serve(spark, routed_df, kind: str, arg: str) -> list:
    """One client request against the sink; returns the collected rows."""
    from logprocessor_spark import query
    from logprocessor_spark.operators.aggregate import sink_aggregates

    if kind.startswith("lookup"):
        return query.point_lookup(routed_df, arg).collect()
    if kind == "search":
        return query.search(routed_df, arg).collect()
    return sink_aggregates(routed_df).collect()


def check(con, routed: Path, kind: str, arg: str, rows: list) -> int:
    """0 when the Spark answer equals DuckDB's over the same Parquet."""
    if kind.startswith("lookup"):
        got = sorted((r.message_id, r.url, r.text) for r in rows)
        want = gate.lookup_answer(con, routed, arg)
        return int(got != want or (kind == "lookup_hit") != bool(want))
    if kind == "search":
        got = [(gate.epoch_us(r.ts), r.service, r.message_id) for r in rows]
        return int(not gate.search_matches(got, gate.search_answer(con, routed, arg)))
    got = [
        (r.sink, r.month, r.doc_count, gate.epoch_us(r.min_ts), gate.epoch_us(r.max_ts))
        for r in rows
    ]
    return int(got != gate.report_answer(con, routed))


def sample_ids(routed: Path, seed: int, n: int = 256) -> list[str]:
    with gate._con() as con:
        return [
            r[0]
            for r in con.execute(
                f"SELECT message_id FROM {gate._rel(routed)} WHERE message_id IS NOT NULL "
                "ORDER BY hash(message_id, ?::BIGINT) LIMIT ?",
                [seed, n],
            ).fetchall()
        ]


def warm_search(spark, warm: Path):
    routed = warm / "out" / "routed"
    df = spark.read.parquet(str(routed))
    reqs = requests(sample_ids(routed, 0), 0)
    picks = [next(r for r in reqs if r[0] == k) for k in ("lookup_hit", "search", "report")]
    return (lambda: None, lambda: [serve(spark, df, k, a) for k, a in picks])


def run_search(spark, size: str, seed: int, seconds: float) -> Tally:
    routed = inputs.search_sink(size, seed) / "out" / "routed"
    df = spark.read.parquet(str(routed))
    reqs = requests(sample_ids(routed, seed), seed)
    tally = Tally(unit="requests")
    done, timed = [], 0.0
    for kind, arg in reqs:
        if timed >= seconds or tally.crashed >= MAX_CRASHES:
            break
        try:
            rows, wall = _timed(lambda: serve(spark, df, kind, arg))
        except Exception:
            tally.crash(kind)
            continue
        timed += wall
        done.append((kind, arg, wall, rows))
    with gate._con() as con:
        for kind, arg, wall, rows in done:
            bad = check(con, routed, kind, arg, rows)
            tally.record(kind.split("_")[0], wall, 1, bad)
    return tally


WORKLOADS = {
    "bulk_ingest": (warm_ingest, run_bulk),
    "daily_upsert": (warm_ingest, run_daily),
    "search_mix": (warm_search, run_search),
}


def summary(tally: Tally, setup_s: float) -> dict:
    """Every end-to-end figure of the window, with sample counts."""
    out = {
        "setup_s": setup_s,
        "throughput_per_s": tally.units / tally.timed if tally.timed else 0.0,
        "throughput_unit": f"{tally.unit}/s",
        "call_p50_ms": 1000 * statistics.median(tally.all_walls) if tally.all_walls else 0.0,
        "calls": tally.attempted,
        "failed": tally.failed,
        "error_rate": tally.failed / max(1, tally.attempted),
        "timed_s": tally.timed,
    }
    for kind, walls in sorted(tally.walls.items()):
        out[f"{kind}_n"] = len(walls)
        out[f"{kind}_walls_s"] = [round(w, 4) for w in walls]
        for p in (50, 90):
            out[f"{kind}_p{p}_ms"] = 1000 * percentile(walls, p)
    return out
