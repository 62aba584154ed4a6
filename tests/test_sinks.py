"""Sink upsert contract, run directly against ``sinks.write_fanout`` /
``read_sink``.

Reference semantics under test: monthly ES index ``_id`` upsert
(es.clj:99-104) — one survivor per (sink, month, message_id), latest
ingest day wins, quarantine rows (null key) never collapse. The
within-batch and cross-run collapse cases live in
``tests/test_pipeline_e2e.py`` (``test_fanout_dedup_scope_is_sink_month``,
``test_committed_scope_upsert_across_runs``).
"""

from logprocessor_spark.sinks import read_sink, write_fanout

SCHEMA = (
    "url string, message_id string, payload string, "
    "sink string, month string, dt string"
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rowset(df):
    return {
        (r.sink, r.month, r.dt, r.message_id, r.url) for r in df.collect()
    }


BATCH1 = [
    ("u1", "m1", "x", "sink_en", "2015.11", "2015-11-01"),
    ("u2", "m2", "y", "sink_en", "2015.11", "2015-11-01"),
    ("u3", "m3", "z", "sink_eu", "2015.12", "2015-12-01"),
    ("u4", None, "q", "quarantine", "unknown", "2015-11-01"),
    ("u5", None, "q", "quarantine", "unknown", "2015-11-01"),
]
BATCH1_DTS = ["2015-11-01", "2015-12-01"]


def test_roundtrip_and_sink_prune(spark, tmp_out):
    write_fanout(_df(spark, BATCH1), tmp_out, batch_dts=BATCH1_DTS)
    assert _rowset(read_sink(spark, tmp_out)) == {
        (r[3], r[4], r[5], r[1], r[0]) for r in BATCH1
    }
    assert {r.url for r in read_sink(spark, tmp_out, sink="sink_eu").collect()} == {"u3"}


def test_same_day_replay_is_idempotent(spark, tmp_out):
    write_fanout(_df(spark, BATCH1), tmp_out, batch_dts=BATCH1_DTS)
    once = _rowset(read_sink(spark, tmp_out))
    write_fanout(_df(spark, BATCH1), tmp_out, batch_dts=BATCH1_DTS)  # replay
    assert _rowset(read_sink(spark, tmp_out)) == once


def test_multi_run_upsert_scenario(spark, tmp_out):
    """Two runs with a same-day replay, a cross-run upsert, a new key and
    null keys land exactly the expected table."""
    run2 = [
        ("u1c", "m1", "x3", "sink_en", "2015.11", "2015-11-03"),  # upserts m1
        ("u6", "m6", "w", "sink_misc", "2015.11", "2015-11-03"),  # new key
        ("u7", None, "q", "quarantine", "unknown", "2015-11-03"),  # null key
    ]
    write_fanout(_df(spark, BATCH1), tmp_out, batch_dts=BATCH1_DTS)
    write_fanout(_df(spark, BATCH1), tmp_out, batch_dts=BATCH1_DTS)
    write_fanout(
        _df(spark, run2), tmp_out, batch_dts=["2015-11-03"], committed_scope=True
    )
    assert _rowset(read_sink(spark, tmp_out)) == {
        ("sink_en", "2015.11", "2015-11-03", "m1", "u1c"),
        ("sink_en", "2015.11", "2015-11-01", "m2", "u2"),
        ("sink_eu", "2015.12", "2015-12-01", "m3", "u3"),
        ("quarantine", "unknown", "2015-11-01", None, "u4"),
        ("quarantine", "unknown", "2015-11-01", None, "u5"),
        ("sink_misc", "2015.11", "2015-11-03", "m6", "u6"),
        ("quarantine", "unknown", "2015-11-03", None, "u7"),
    }
