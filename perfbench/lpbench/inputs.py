"""Seeded benchmark inputs, sliced from master tables built once per size.

A master is a Hive-partitioned ``pages`` table over 61 days, written by the
program's own generator (``synth.gen_pages`` + ``write_pages_partitioned``),
so the program only ever receives generated Parquet. At full size it holds
150,000 docs, about 2.5k a day: the traffic of one (app, day) partition.

The daily_upsert master also **re-delivers** 2% of the messages of every
day whose index is a multiple of 4: the same html, with ``warc_ts`` moved
one day later (the shape of ``test_committed_scope_upsert_across_runs``).
Committed-scope reconcile therefore finds losers on those next days and
exits early on the others. The bulk_ingest master has no re-deliveries.

Each master is committed once by one bulk ``run_pipeline`` (``out``).
``--seed`` picks a window of consecutive days. The window's input is a copy
of those day directories; its reference signature, and the committed sinks
a workload starts from, are slices of the master's commit. A daily window
ends before a re-delivery source day, so a slice equals what a fresh run
over the window's days commits.

The cache lives under a directory named after a digest of the program's
source and of this module, so every reference comes from the code under
test. Building or copying inputs is never part of a timed region or of
``setup_s``."""

from __future__ import annotations

import hashlib
import json
import shutil
from dataclasses import dataclass
from datetime import date, timedelta
from pathlib import Path

import duckdb

from . import gate
from . import engine
from .engine import REPO_ROOT, WORK

MASTER_DAYS = 61  # full days gen_pages spans from synth.BASE_TS
MASTER_SEED = 1
REDELIVERY_PERMILLE = 20  # 2% of a source day's messages are re-delivered
REDELIVERY_EVERY = 4  # source days: index % 4 == 0, copies land on the next day
FIRST_DAY = date(2015, 10, 15)  # synth.BASE_TS


@dataclass(frozen=True)
class Size:
    master_docs: int  # generator size of the master (61 days)
    bulk_days: int  # days in one bulk_ingest window
    snap_days: int  # days committed in the daily_upsert snapshot
    block_days: int  # days one daily_upsert block processes in order
    warm_days: int  # master days the fixed warm-up input holds


SIZES = {
    "full": Size(150_000, 40, 4, 4, 3),
    "tiny": Size(6_200, 8, 4, 4, 3),
}


def day(i: int) -> str:
    return (FIRST_DAY + timedelta(days=i)).isoformat()


def _program_digest() -> str:
    h = hashlib.sha256()
    files = sorted((REPO_ROOT / "logprocessor_spark").rglob("*.py")) + [Path(__file__)]
    for p in files:
        h.update(p.relative_to(REPO_ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def _cache_root() -> Path:
    """``cache/<digest>``; entries built by other versions are removed."""
    root = WORK / "cache" / _program_digest()
    if not root.exists():
        shutil.rmtree(root.parent, ignore_errors=True)
        root.mkdir(parents=True)
    return root


def _cached(name: str, build) -> Path:
    """Return the cache dir ``name``, running ``build(dir)`` on a miss.
    A ``DONE`` marker is written last, so a half-built entry is rebuilt."""
    d = _cache_root() / name
    if (d / "DONE").exists():
        return d
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    build(d)
    (d / "DONE").write_text("")
    return d


def _write_pages(spark, d: Path, n: int, redeliver: bool) -> None:
    """pages table + ``redeliveries.json`` [(message_id, from_dt, to_dt)]."""
    from pyspark.sql import functions as F

    from logprocessor_spark.synth import gen_pages, write_pages_partitioned

    days = [day(i) for i in range(MASTER_DAYS)]
    pages = gen_pages(spark, n, seed=MASTER_SEED).withColumn(
        "dt", F.date_format("warc_ts", "yyyy-MM-dd")
    ).where(F.col("dt").isin(days))
    src_days = days[::REDELIVERY_EVERY][:-1] if redeliver else []
    pick = (
        F.pmod(F.xxhash64("url", F.lit(MASTER_SEED)), F.lit(1000)) < REDELIVERY_PERMILLE
    ) & F.col("dt").isin(src_days)
    copies = pages.where(pick).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    )
    write_pages_partitioned(pages.unionByName(copies).drop("dt"), str(d / "pages"))
    # a re-delivered message is the one id written under two days
    with duckdb.connect() as con:
        rows = con.execute(
            "SELECT id, min(dt), max(dt) FROM (SELECT regexp_extract(decode(html), ?, 1) AS id, dt "
            f"FROM read_parquet('{d}/pages/*/*.parquet', hive_partitioning=true, "
            "hive_types_autocast=false)) WHERE id <> '' GROUP BY id HAVING count(*) > 1 ORDER BY id",
            [gate.MSG_ID_PATTERN],
        ).fetchall()
    (d / "redeliveries.json").write_text(json.dumps([list(r) for r in rows]))


def redeliveries(d: Path) -> list[list[str]]:
    return json.loads((d / "redeliveries.json").read_text())


def pages_days(d: Path) -> list[str]:
    return sorted(
        p.name.split("=", 1)[1] for p in (d / "pages").iterdir() if p.name.startswith("dt=")
    )


def _master(size: str, redeliver: bool) -> Path:
    """A master and its commit, built in a JVM of their own, so the
    measured JVM starts cold."""

    def build(d: Path) -> None:
        from logprocessor_spark.job import run_pipeline

        spark, _ = engine.start_session()
        try:
            _write_pages(spark, d, SIZES[size].master_docs, redeliver)
            run_pipeline(spark, str(d / "pages"), str(d / "out"), run_id="setup")
        finally:
            engine.shutdown(spark)

    return _cached(f"master-{'daily' if redeliver else 'bulk'}-{size}", build)


def _copy_window(master: Path, d: Path, days: list[str]) -> None:
    """Pages of ``days``, their re-deliveries and ``reference.json``: the
    master commit's signature over ``days``."""
    (d / "pages").mkdir(parents=True)
    for dt in days:
        shutil.copytree(master / "pages" / f"dt={dt}", d / "pages" / f"dt={dt}")
    keep = set(days)
    rd = [r for r in redeliveries(master) if r[1] in keep and r[2] in keep]
    (d / "redeliveries.json").write_text(json.dumps(rd))
    sig = gate.routed_signature(master / "out" / "routed", days)
    (d / "reference.json").write_text(json.dumps(sig))


def _slice_sink(master: Path, sink: Path, days: list[str]) -> None:
    """A committed sink holding the master commit of ``days`` only: routed
    partitions, ledger entries and metrics rows."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = master / "out"
    for part in (src / "routed").glob("sink=*/month=*/dt=*"):
        if part.name[3:] in days:
            shutil.copytree(part, sink / "routed" / part.relative_to(src / "routed"))
    (sink / "ledger").mkdir(parents=True)
    (sink / "metrics").mkdir()
    for dt in days:
        shutil.copy(src / "ledger" / f"{dt}.json", sink / "ledger")
    metrics = pq.read_table(src / "metrics")
    mask = pc.is_in(metrics["partition_key"], value_set=pa.array(days))
    pq.write_table(metrics.filter(mask), sink / "metrics" / "part-snapshot.parquet")


def reference(d: Path) -> list[int]:
    return json.loads((d / "reference.json").read_text())


def seeded_pages(size: str, seed: int) -> Path:
    """bulk_ingest input: ``bulk_days`` consecutive bulk master days."""
    w = SIZES[size].bulk_days
    o = seed % (MASTER_DAYS - w + 1)
    master = _master(size, False)
    days = [day(o + i) for i in range(w)]
    return _cached(f"pages-{size}-{w}-o{o}", lambda d: _copy_window(master, d, days))


def search_sink(size: str, seed: int) -> Path:
    """search_mix's sink: the master commit of ``seeded_pages``'s days."""
    pages = seeded_pages(size, seed)
    master = _master(size, False)
    return _cached(
        f"sink-{pages.name}", lambda d: _slice_sink(master, d / "out", pages_days(pages))
    )


def daily_input(size: str, seed: int) -> Path:
    """daily_upsert input: pages for snap+block days, a ``snapshot`` sink
    with the first ``snap_days`` committed, and ``reference.json`` for all
    snap+block days, which every finished block must reproduce."""
    s = SIZES[size]
    span = s.snap_days + s.block_days
    o = REDELIVERY_EVERY * (seed % ((MASTER_DAYS - span) // REDELIVERY_EVERY + 1))
    master = _master(size, True)
    days = [day(o + i) for i in range(span)]

    def build(d: Path) -> None:
        _copy_window(master, d, days)
        _slice_sink(master, d / "snapshot", days[: s.snap_days])

    return _cached(f"daily-{size}-{s.snap_days}-{s.block_days}-o{o}", build)


def warmup_input(size: str) -> Path:
    """Fixed warm-up input: the first ``warm_days`` bulk master days, a
    sink with all of them committed (``out``) and one with all but the last
    committed (``snapshot``)."""
    master = _master(size, False)
    days = [day(i) for i in range(SIZES[size].warm_days)]

    def build(d: Path) -> None:
        _copy_window(master, d, days)
        _slice_sink(master, d / "out", days)
        _slice_sink(master, d / "snapshot", days[:-1])

    return _cached(f"warmup-{size}", build)


def prepare(workload: str, size: str, seed: int) -> Path:
    """Build (or find) every input of a run; returns the warm-up input."""
    {"bulk_ingest": seeded_pages, "daily_upsert": daily_input, "search_mix": search_sink}[
        workload
    ](size, seed)
    return warmup_input(size)
