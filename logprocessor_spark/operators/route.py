"""Rule-driven fan-out routing (SURVEY §2a S5-S7, F11; north_rule fan-out).

The reference routes every document to a monthly Elasticsearch index
``titan-YYYY.MM`` derived from the parsed timestamp (es.clj:99-104), with
parse failures quarantined out of the sink path (processing.clj:61).
Here routing is **data-driven**: an ordered rules table (FIXTURES.md §4)
compiles to one CASE/WHEN column — first match wins, ``*`` is the
wildcard default — plus the month suffix from the timestamp.

Scale design: the routing decision is a pure projection (no shuffle, stays
inside the scan's codegen stage). The fan-out WRITE is a single pass over
the data, partitioned by (sink, month[, dt]) — NOT one filtered write per
sink, which would rescan the input N times at 100 TB. The reference's
"month-boundary index bug" (es.clj:55-59, creating titan-2016.13) cannot
happen: sink partitions derive from the data itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUARANTINE = "quarantine"


def compile_rules(rules: DataFrame) -> F.Column:
    """Ordered rules -> one CASE/WHEN routing expression over the fact df.

    Rules are collected to the driver (they are config, a handful of rows —
    the analog of the reference's dispatch table) and compiled into a
    native expression so routing is codegen'd, not a join.
    """
    collected = sorted(rules.collect(), key=lambda r: r.rule_id)
    expr: F.Column | None = None
    default = None
    for r in collected:
        if r.predicate_col == "*" or r.predicate_val == "*":
            default = r.sink
            continue
        cond = F.col(r.predicate_col) == r.predicate_val
        expr = F.when(cond, r.sink) if expr is None else expr.when(cond, r.sink)
    if expr is None:
        return F.lit(default)
    return expr.otherwise(F.lit(default))


def route(parsed: DataFrame, rules: DataFrame) -> DataFrame:
    """Add ``sink`` and ``month`` routing columns.

    * error rows (parse failures) -> quarantine sink, month from warc-date
      when the parsed ts is unusable (quarantine rows may have null ts).
    * clean rows -> first matching rule; month = date_format(ts,'yyyy.MM')
      (F11, es.clj:104).
    """
    sink = F.when(F.col("error").isNotNull(), F.lit(QUARANTINE)).otherwise(
        compile_rules(rules)
    )
    month = F.coalesce(
        F.date_format("ts", "yyyy.MM"), F.lit("unknown")
    )
    return parsed.withColumn("sink", sink).withColumn("month", month)

