"""Correctness gate: checks committed sinks and read-path answers with
DuckDB over the same Parquet files, never with Spark.

Each check returns a count of violations (0 = correct), so a caller can
charge failures to the call that produced the state."""

from __future__ import annotations

import calendar
import json
from collections import Counter
from datetime import datetime
from pathlib import Path

import duckdb

SEARCH_LIMIT = 120  # the reference UI's page size (db.cljs:20)
MSG_ID_PATTERN = r'<meta name="message-id" content="([^"]*)"'


def _rel(routed: Path | str) -> str:
    return (
        f"read_parquet('{routed}/**/*.parquet', hive_partitioning=true, "
        "hive_types_autocast=false)"
    )


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def routed_signature(routed: Path | str, days: list[str] | None = None) -> list[int]:
    """Order-insensitive hash of the committed (sink, month, dt, message_id)
    multiset, optionally of ``days`` only: [row count, sum of row hashes]."""
    where = "WHERE list_contains(?, dt)" if days is not None else ""
    with _con() as con:
        n, h = con.execute(
            "SELECT count(*), coalesce(sum(hash(sink, month, dt, message_id)::HUGEINT), 0) "
            f"FROM {_rel(routed)} {where}",
            [days] if days is not None else [],
        ).fetchone()
    return [int(n), int(h)]


def duplicate_ids(routed: Path | str) -> int:
    """(sink, month, message_id) groups holding more than one row."""
    with _con() as con:
        return con.execute(
            "SELECT count(*) FROM (SELECT sink, month, message_id FROM "
            f"{_rel(routed)} WHERE message_id IS NOT NULL "
            "GROUP BY ALL HAVING count(*) > 1)"
        ).fetchone()[0]


def redelivery_violations(
    routed: Path | str, redelivered: list[list[str]], days: set[str]
) -> int:
    """Re-delivered ids whose survivors are not exactly one row on the later
    day. Only re-deliveries onto ``days`` (already processed) are checked."""
    rows = [r for r in redelivered if r[2] in days]
    if not rows:
        return 0
    with _con() as con:
        con.execute("CREATE TEMP TABLE rd(id VARCHAR, from_dt VARCHAR, to_dt VARCHAR)")
        con.executemany("INSERT INTO rd VALUES (?, ?, ?)", rows)
        return con.execute(
            "SELECT count(*) FROM (SELECT rd.id, any_value(rd.to_dt) AS want, "
            "count(s.dt) AS n, min(s.dt) AS lo, max(s.dt) AS hi FROM rd "
            f"LEFT JOIN {_rel(routed)} s ON s.message_id = rd.id GROUP BY rd.id) "
            "WHERE n <> 1 OR lo <> want OR hi <> want"
        ).fetchone()[0]


def commit_violations(out: Path | str, run_id: str, days: list[str]) -> int:
    """Days whose ledger ``rows_in`` or ``metrics`` sum for ``run_id`` differ
    from the rows committed under that day right now."""
    out = Path(out)
    with _con() as con:
        counts = dict(
            con.execute(
                f"SELECT dt, count(*) FROM {_rel(out / 'routed')} GROUP BY dt"
            ).fetchall()
        )
        metrics = dict(
            con.execute(
                f"SELECT partition_key, sum(parsed) FROM read_parquet('{out}/metrics/*.parquet') "
                "WHERE run_id = ? GROUP BY partition_key",
                [run_id],
            ).fetchall()
        )
    bad = 0
    for d in days:
        led = out / "ledger" / f"{d}.json"
        rec = json.loads(led.read_text()) if led.exists() else {}
        n = counts.get(d, 0)
        if rec.get("run_id") != run_id or rec.get("rows_in") != n or metrics.get(d) != n:
            bad += 1
    return bad


def survivor_violations(out: Path | str, src: Path, days: set[str]) -> int:
    """Rows by which the committed (dt, message_id) multiset of ``days``
    differs from the input's: every input row of those days, read from its
    html, except the earlier copy of each re-delivery whose later day is
    among ``days``."""
    moved = [r[:2] for r in json.loads((src / "redeliveries.json").read_text()) if r[2] in days]
    pages = (
        f"read_parquet('{src}/pages/*/*.parquet', hive_partitioning=true, "
        "hive_types_autocast=false)"
    )
    with _con() as con:
        con.execute("CREATE TEMP TABLE moved(id VARCHAR, dt VARCHAR)")
        if moved:
            con.executemany("INSERT INTO moved VALUES (?, ?)", moved)
        return con.execute(
            "WITH i AS (SELECT dt, nullif(regexp_extract(decode(html), ?, 1), '') AS id "
            f"FROM {pages} WHERE list_contains(?, dt) "
            "EXCEPT ALL SELECT dt, id FROM moved), "
            f"o AS (SELECT dt, message_id AS id FROM {_rel(Path(out) / 'routed')} "
            "WHERE list_contains(?, dt)) "
            "SELECT (SELECT count(*) FROM (FROM i EXCEPT ALL FROM o)) "
            "+ (SELECT count(*) FROM (FROM o EXCEPT ALL FROM i))",
            [MSG_ID_PATTERN, sorted(days), sorted(days)],
        ).fetchone()[0]


def sink_violations(out: Path | str, src: Path, days: set[str]) -> int:
    """Every committed-sink check against the input in ``src`` (pages and
    ``redeliveries.json``), over the processed ``days``."""
    routed = Path(out) / "routed"
    rd = json.loads((src / "redeliveries.json").read_text())
    return (
        duplicate_ids(routed)
        + redelivery_violations(routed, rd, days)
        + survivor_violations(out, src, days)
    )


# --- read-path oracles ----------------------------------------------------


def epoch_us(ts: datetime | None) -> int | None:
    """Spark collects naive datetimes in the session's (UTC) zone."""
    if ts is None:
        return None
    return calendar.timegm(ts.utctimetuple()) * 1_000_000 + ts.microsecond


def lookup_answer(con, routed: Path, message_id: str) -> list[tuple]:
    return sorted(
        con.execute(
            f"SELECT message_id, url, text FROM {_rel(routed)} WHERE message_id = ?",
            [message_id],
        ).fetchall()
    )


def search_answer(con, routed: Path, query: str) -> list[tuple]:
    """Every matching row as (ts_us, service, message_id), in the UI order
    (ts asc, service asc, nulls first)."""
    terms = [t.lower() for t in query.split()]
    plain = sorted({t for t in terms if "*" not in t and "?" not in t})
    wild = [t.replace("*", "%").replace("?", "_") for t in terms if "*" in t or "?" in t]
    toks = "list_distinct(string_split_regex(lower(text), '\\s+'))"
    conds, params = [], []
    if plain:
        conds.append(f"list_has_all({toks}, ?::VARCHAR[])")
        params.append(plain)
    for w in wild:
        conds.append(f"len(list_filter({toks}, x -> x LIKE ?)) > 0")
        params.append(w)
    where = " AND ".join(conds) or "TRUE"
    return con.execute(
        f"SELECT epoch_us(ts), service, message_id FROM {_rel(routed)} WHERE {where} "
        "ORDER BY ts ASC NULLS FIRST, service ASC NULLS FIRST",
        params,
    ).fetchall()


def search_matches(got: list[tuple], every: list[tuple], limit: int = SEARCH_LIMIT) -> bool:
    """``got`` is a valid top-``limit`` of ``every``: the same (ts, service)
    key sequence, the same rows ahead of the last key, and rows of the last
    key drawn from that key's matches (ties at the cut may pick any)."""
    want = every[:limit]
    if [r[:2] for r in got] != [r[:2] for r in want]:
        return False
    if not got:
        return True
    last = got[-1][:2]
    head_got = Counter(r for r in got if r[:2] != last)
    head_want = Counter(r for r in want if r[:2] != last)
    tail_got = Counter(r for r in got if r[:2] == last)
    tail_pool = Counter(r for r in every if r[:2] == last)
    return head_got == head_want and not tail_got - tail_pool


def report_answer(con, routed: Path) -> list[tuple]:
    return con.execute(
        f"SELECT sink, month, count(*), epoch_us(min(ts)), epoch_us(max(ts)) "
        f"FROM {_rel(routed)} GROUP BY sink, month ORDER BY sink, month"
    ).fetchall()
