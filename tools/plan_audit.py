"""Physical-plan audit: assert the plans we'd want at 100 TB and write the
evidence to BENCH/PLANS.md.

Checks per query/pipeline stage:
* predicate pushdown reaches the parquet scan (PushedFilters)
* column pruning (ReadSchema excludes unused heavy columns)
* broadcast joins for dims (BroadcastHashJoin, no SortMergeJoin for dims)
* top-k compiles to TakeOrderedAndProject (no global Sort+Limit)
* exchange (shuffle) counts match the design budget
* WholeStageCodegen covers the hot path

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

CHECKS = []  # (name, passed, detail)
# physical nodes that run Python over rows (UDFs, pandas/Arrow maps);
# "MapInArrow" also matches the older "PythonMapInArrow" node name
PY_EVAL_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow")


def python_eval_nodes(plan: str) -> list[str]:
    return [n for n in PY_EVAL_NODES if n in plan]


def check(name: str, cond: bool, detail: str = "") -> None:
    CHECKS.append((name, cond, detail))
    print(f"{'OK  ' if cond else 'FAIL'} {name} {detail}")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from logprocessor_spark import harness
    from logprocessor_spark.session import get_spark

    spark = get_spark("plan-audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    # S8 point lookup: pushdown + pruning
    p = plan_of(harness.q_log_point_lookup(spark, sf_dir))
    check("point_lookup: no shuffle", "Exchange" not in p, f"exchanges={p.count('Exchange')}")

    lookup = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") == 42)
        .select("doc_id", "lang")
    )
    p = plan_of(lookup)
    check(
        "parquet lookup: predicate pushed",
        bool(re.search(r"PushedFilters: \[.*EqualTo\(doc_id,42\)", p)),
    )
    check(
        "parquet lookup: columns pruned (no text)",
        "text" not in re.search(r"ReadSchema: ([^\n]*)", p).group(1),
    )

    # O1+O2 top-k
    p = plan_of(harness.q_topk_orders(spark, sf_dir))
    check("topk_orders: TakeOrderedAndProject", "TakeOrderedAndProject" in p)

    # J1 broadcast enrich
    p = plan_of(harness.q_join_enrich_region(spark, sf_dir))
    check(
        "join_enrich_region: both dims broadcast",
        p.count("BroadcastHashJoin") == 2 and "SortMergeJoin" not in p,
    )

    # fact x fact: the shuffle-join regime — SortMergeJoin on both joins,
    # nothing broadcast (the 100 TB customer⋈orders⋈lineitem shape)
    p = plan_of(harness.q_tpch_q3(spark, sf_dir))
    check(
        "tpch_q3: fact x fact SortMergeJoin (no broadcast)",
        p.count("SortMergeJoin") == 2 and "BroadcastHashJoin" not in p,
        f"smj={p.count('SortMergeJoin')}",
    )

    # semi/anti compile to the dedicated join types
    p = plan_of(harness.q_semi_join_suppliers(spark, sf_dir))
    check("semi_join: LeftSemi", "LeftSemi" in p)
    p = plan_of(harness.q_anti_join_customers(spark, sf_dir))
    check("anti_join: LeftAnti", "LeftAnti" in p)

    # parse stage: single codegen span, no python
    parsed = harness.q_log_parse_fields(spark, sf_dir)
    p = plan_of(parsed)
    # codegen'd operators render as "*(n) Op" in the plan string
    check("parse: whole-stage codegen", "WholeStageCodegen" in p or "*(1)" in p)
    check("parse: no Python eval in hot path", not python_eval_nodes(p))

    # fan-out write path: exactly one exchange (fused dedup)
    from logprocessor_spark.functions.parse import parse_pages
    from logprocessor_spark.operators.route import route
    from logprocessor_spark.sinks import PARTITION_COLS
    from logprocessor_spark.synth import default_rules, gen_pages
    from pyspark.sql.window import Window

    pages = gen_pages(spark, 1000).withColumn("dt", F.date_format("warc_ts", "yyyy-MM-dd"))
    routed = route(parse_pages(pages, extra_cols=["dt"]), default_rules(spark)).drop("html")
    w = Window.partitionBy(*PARTITION_COLS).orderBy(F.col("message_id").asc_nulls_first())
    cleaned = (
        routed.repartition(*[F.col(c) for c in PARTITION_COLS])
        .withColumn("__prev", F.lag("message_id").over(w))
        .where(F.col("message_id").isNull() | F.col("__prev").isNull() | (F.col("__prev") != F.col("message_id")))
        .drop("__prev")
    )
    p = plan_of(cleaned)
    check("fanout+dedup: single exchange", p.count("Exchange") == 1, f"exchanges={p.count('Exchange')}")
    check(
        "routed batch: no Python eval (parse -> route -> dedup)",
        not python_eval_nodes(p),
        f"found={python_eval_nodes(p)}",
    )

    # salted agg: two-phase = exactly two exchanges, partial aggregation present
    p = plan_of(harness.q_salted_agg_parity(spark, sf_dir))
    check(
        "salted_agg: 2 exchanges (salt + merge)",
        p.count("Exchange") == 2,
        f"exchanges={p.count('Exchange')}",
    )

    # LSH band join is an equi-join (hash), not a nested-loop
    p = plan_of(harness.q_dedup_minhash_pairs(spark, sf_dir))
    check(
        "minhash LSH: equi-join candidates",
        any(j in p for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
    )

    check(
        "minhash LSH: signature persisted (computed once)",
        "InMemoryTableScan" in p,
    )

    # banded embedding LSH: equi-join candidates, vectors joined back late
    p = plan_of(harness.q_near_dup_embeddings_lsh(spark, sf_dir))
    check(
        "embedding LSH: equi-join candidates, no cartesian",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
    )
    check("embedding LSH: band keys persisted", "InMemoryTableScan" in p)

    # as-of join: join-free plan — one Window over the key, never a
    # nested-loop inequality join
    from logprocessor_spark.operators.temporal import asof_join, range_join_binned

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    p = plan_of(asof_join(clicks, purch, key="user_id", right_cols=["value"]))
    check(
        "asof join: window-based, zero joins",
        "Window" in p
        and not any(
            j in p
            for j in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
        ),
    )

    # range join: the binned reformulation must compile to an EQUI-join
    iv = purch.groupBy("user_id").agg(F.min("ts").alias("start")).withColumn(
        "end", F.timestamp_add("DAY", F.lit(7), F.col("start"))
    )
    p = plan_of(range_join_binned(clicks, iv, key="user_id", bin_seconds=86400))
    check(
        "range join: equi-join on (key, bin), no nested loop",
        any(j in p for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
        and "BroadcastNestedLoopJoin" not in p
        and "CartesianProduct" not in p,
    )

    # sequence packing: the cumsum window must partition by bucket — a
    # global (SinglePartition) window would serialize the whole corpus
    p = plan_of(harness.q_pack_sequences(spark, sf_dir))
    check(
        "pack_sequences: window sharded on bucket (not global)",
        "hashpartitioning(bucket" in p,
    )

    # prebucketed ANN: bucket predicate prunes partitions at the scan
    import os

    from logprocessor_spark.harness import _cache_tag
    from logprocessor_spark.operators.similarity import (
        lsh_ann_topk_prebucketed,
        materialize_lsh_buckets,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bpath = f"/tmp/lp_lsh_buckets_{_cache_tag(sf_dir)}"
    if not os.path.exists(os.path.join(bpath, "_SUCCESS")):
        materialize_lsh_buckets(emb.select("vec_id", "embedding"), bpath)
    qv = [float(x) for x in emb.where("vec_id = 7").first().embedding]
    p = plan_of(lsh_ann_topk_prebucketed(spark, bpath, qv))
    m = re.search(r"PartitionFilters: \[([^\]]*)", p)
    check(
        "prebucketed ANN: partition pruning on bucket",
        m is not None and "bucket" in m.group(1) and "IN" in m.group(1).upper(),
        (m.group(1)[:80] if m else "no PartitionFilters"),
    )

    # reconcile scan: column pruning — only the dedup key + partition cols
    from logprocessor_spark.sinks import write_fanout

    out = "/tmp/lp_plan_audit_sink"
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    write_fanout(routed, out, cross_day_dedup=False)
    narrow = (
        spark.read.parquet(out).select("sink", "month", "dt", "message_id")
    )
    p = plan_of(narrow.groupBy("sink", "month", "message_id").count())
    rs = re.search(r"ReadSchema: ([^\n]*)", p)
    check(
        "reconcile detection: narrow scan (no text/url columns)",
        rs is not None and "text" not in rs.group(1) and "url" not in rs.group(1),
        (rs.group(1)[:80] if rs else "no ReadSchema"),
    )
    shutil.rmtree(out, ignore_errors=True)

    # host cap: two-phase salted top-k = exactly 2 exchanges (host+salt,
    # then host); both windows are hash-partitioned, never a global sort
    from logprocessor_spark.operators.curation import (
        host_cap,
        remove_boilerplate_lines,
        vocab_topk,
    )

    hosted = harness._hosted_docs(spark, sf_dir)
    p = plan_of(host_cap(hosted, cap=2))
    check(
        "host_cap: 2 exchanges (salted phase + exact phase), no global sort",
        p.count("Exchange") == 2 and "SinglePartition" not in p,
        f"exchanges={p.count('Exchange')}",
    )

    # boilerplate removal: the frequent-line set joins via broadcast —
    # document lines never shuffle for the membership test
    p = plan_of(
        remove_boilerplate_lines(harness._boilerplated_pages(spark, sf_dir), 10)
    )
    check(
        "boilerplate: frequent-line set broadcast (BHJ, no SMJ on lines)",
        "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
    )

    # vocab top-k: map-side partial count + TakeOrderedAndProject
    p = plan_of(vocab_topk(spark.read.parquet(f"{sf_dir}/documents.parquet")))
    check("vocab_topk: TakeOrderedAndProject", "TakeOrderedAndProject" in p)
    check("vocab_topk: partial agg before shuffle", "partial_count" in p)

    # approx-percentile report: the sketch must partial-aggregate map-side
    # (mergeable GK sketch) — that is the whole point of the scale path
    p = plan_of(harness.q_corpus_report_approx(spark, sf_dir))
    check(
        "corpus_report_approx: partial (mergeable) percentile sketch",
        "partial_approx_percentile" in p,
    )

    # token-budget selection (histogram form): the corpus must reach the
    # output through broadcast joins against the tiny histogram — its only
    # windows are the histogram cumsum and the boundary-bucket walk, never
    # a corpus-wide quality sort
    p = plan_of(harness.q_token_budget_select(spark, sf_dir))
    check(
        "token_budget: broadcast histogram selection, histogram cached",
        p.count("BroadcastHashJoin") >= 2 and "InMemoryTableScan" in p,
        f"bhj={p.count('BroadcastHashJoin')} imts={p.count('InMemoryTableScan')}",
    )

    # bucketing: identically-bucketed tables must join with ZERO exchanges
    # and a bare SortMergeJoin — the co-located fact x fact regime
    from logprocessor_spark.sinks import colocated_join, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        import tempfile as _tf

        bdir = _tf.mkdtemp(prefix="lp_bucketed_")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        )
        write_bucketed(orders, "pa_orders_b", "o_orderkey", 8, path=f"{bdir}/o")
        write_bucketed(li, "pa_lineitem_b", "o_orderkey", 8, path=f"{bdir}/l")
        p = plan_of(colocated_join(spark, "pa_orders_b", "pa_lineitem_b", "o_orderkey"))
        check(
            "bucketed co-located join: zero exchanges",
            "Exchange" not in p and "SortMergeJoin" in p,
            f"exchanges={p.count('Exchange')}",
        )
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS pa_orders_b")
        spark.sql("DROP TABLE IF EXISTS pa_lineitem_b")
        shutil.rmtree(bdir, ignore_errors=True)

    # round-4 operators ------------------------------------------------
    # hashed linear classifier: a pure scan-side gate — NO exchange at all
    p = plan_of(harness.q_quality_classifier(spark, sf_dir))
    check(
        "quality_classifier: shuffle-free scan-side gate",
        "Exchange" not in p,
        f"exchanges={p.count('Exchange')}",
    )

    # URL canonicalization: pure map (no exchange); dedup: exactly one
    # groupBy exchange carrying only (url_canon, ts, id)
    p = plan_of(harness.q_url_canonicalize(spark, sf_dir))
    check("url_canonicalize: shuffle-free map", "Exchange" not in p)
    p = plan_of(harness.q_url_dedup(spark, sf_dir))
    check(
        "url_dedup: single exchange, partial max_by before it",
        p.count("Exchange") == 1 and "partial_max" in p,
        f"exchanges={p.count('Exchange')}",
    )

    # paragraph dedup: hash-keyed first-occurrence window + reassembly
    # groupBy — exactly two wide shuffles, no more
    p = plan_of(harness.q_dedup_paragraphs(spark, sf_dir))
    check(
        "dedup_paragraphs: two exchanges (window + reassembly)",
        p.count("Exchange") == 2,
        f"exchanges={p.count('Exchange')}",
    )

    # postings search: candidate filter sits between the explode and the
    # aggregation (shuffle carries candidate tokens only), and the postings
    # groupBy partial-aggregates map-side (the combiner shape)
    p = plan_of(harness.q_inverted_search(spark, sf_dir))
    check(
        "inverted_search: explode -> filter -> combiner groupBys",
        "Generate" in p and p.count("Exchange") == 2 and "partial_count" in p,
        f"exchanges={p.count('Exchange')}",
    )

    # tf-idf: df and N relations broadcast (the only BNLJ is the 1-row N
    # scalar — whitelisted in the sweep below); top-k never global-sorts
    p = plan_of(harness.q_tfidf_topk(spark, sf_dir))
    check(
        "tfidf_topk: broadcast df relation + TakeOrderedAndProject",
        "BroadcastHashJoin" in p and "TakeOrderedAndProject" in p,
    )

    # blocklist gate: broadcast LEFT ANTI — the corpus side never shuffles
    p = plan_of(harness.q_host_blocklist_filter(spark, sf_dir))
    check(
        "host_blocklist: broadcast anti probe, zero corpus exchanges",
        "BroadcastHashJoin" in p and "LeftAnti" in p
        and "Exchange hashpartitioning" not in p,
    )

    # PQ: codebook and query-distance-table broadcast; the only wide
    # shuffles are the encode argmin and the ADC sum
    p = plan_of(harness.q_pq_ann_topk(spark, sf_dir))
    check(
        "pq_ann_topk: broadcast codebook+qtab, 2 exchanges, top-k",
        p.count("BroadcastHashJoin") >= 2 and "TakeOrderedAndProject" in p
        and p.count("Exchange hashpartitioning") == 2,
        f"bhj={p.count('BroadcastHashJoin')} "
        f"hash_exchanges={p.count('Exchange hashpartitioning')}",
    )

    # v4 crawl-side chain: blocklist anti broadcast, deduped relation
    # persisted (classifier gate + final projection both read it)
    p = plan_of(harness.q_curate_corpus_v4(spark, sf_dir))
    check(
        "curate_v4: broadcast anti blocklist + persisted dedup relation",
        "LeftAnti" in p and "BroadcastHashJoin" in p and "InMemoryTableScan" in p,
    )

    # IVF-PQ: probe filter reaches the codes via the broadcast qtab join;
    # the argmin + ADC groupBys are the only hash exchanges
    p = plan_of(harness.q_ivfpq_topk(spark, sf_dir))
    check(
        "ivfpq_topk: broadcast codebooks/qtab, <=3 hash exchanges, top-k",
        p.count("BroadcastHashJoin") >= 3 and "TakeOrderedAndProject" in p
        and p.count("Exchange hashpartitioning") <= 3,
        f"bhj={p.count('BroadcastHashJoin')} "
        f"hash_exchanges={p.count('Exchange hashpartitioning')}",
    )

    # count-min sketch: the grid groupBy partial-aggregates map-side and
    # the grid broadcasts for estimation (point lookups, no wide join)
    p = plan_of(harness.q_cms_heavy_hitters(spark, sf_dir))
    check(
        "cms_heavy_hitters: partial-agg grid, broadcast estimate join",
        "partial_count" in p and "BroadcastHashJoin" in p,
    )

    # LM perplexity scoring: the gram->model lookup must be a broadcast
    # join (the model is broadcast-sized by contract) and the whole score
    # must stay expression-side — no Python evaluation anywhere
    p = plan_of(harness.q_lm_doc_perplexity(spark, sf_dir))
    check(
        "lm_doc_perplexity: broadcast LM lookup, zero Python eval",
        "BroadcastHashJoin" in p and not python_eval_nodes(p),
        f"bhj={p.count('BroadcastHashJoin')}",
    )

    # 4-gram KN: five count relations join back on gram keys; the stat
    # relations must broadcast (they are aggregates of the same corpus,
    # small at gate SF) or sort-merge — either way no nested loop, no
    # Python, and the 4-gram explode happens once
    p = plan_of(harness.q_kn_4gram_lm(spark, sf_dir))
    check(
        "kn_4gram_lm: join-back plan, zero Python eval, top-k",
        not python_eval_nodes(p) and "TakeOrderedAndProject" in p,
    )

    # CCNet-exact configuration: the 5-gram scorer's model lookup joins
    # on five gram columns — still broadcastable stats-side, zero Python
    p = plan_of(harness.q_lm_doc_perplexity_5g(spark, sf_dir))
    check(
        "lm_doc_perplexity_5g: zero Python eval, no nested loop",
        not python_eval_nodes(p) and "CartesianProduct" not in p,
    )

    # Bloom probe: the filter is a packed literal bitset and the k bit
    # tests are shift/mask expressions — the probe plan must be a pure
    # scan-side projection: ZERO exchanges, zero joins, zero Python
    p = plan_of(harness.q_bloom_crawl_probe(spark, sf_dir))
    check(
        "bloom_crawl_probe: zero-exchange scan-side probe",
        "Exchange" not in p and "Join" not in p
        and not python_eval_nodes(p),
        f"exchanges={p.count('Exchange')}",
    )

    # sweep: NO registered query may compile to an unguarded cartesian /
    # BroadcastNestedLoopJoin plan. Two deliberate exceptions:
    #  - near_dup_embeddings: the all-pairs verification twin, count-guarded
    #    (fails fast above ALLPAIRS_ROW_LIMIT — asserted right below);
    #  - knn_join: small-Q broadcast crossJoin by design — the corpus side
    #    never shuffles, which IS the 100 TB shape for tiny query sets.
    import logprocessor_spark.harness as H

    #  - tfidf_topk: crossJoin against a BROADCAST SINGLE-ROW scalar (the
    #    corpus doc count) — a 1-row BNLJ is a map-side literal attach,
    #    not a candidate-pair explosion.
    #  - ivf_lists / ivfpq_topk: crossJoin against the BROADCAST KC-row
    #    coarse codebook (8 rows) / nprobe-row probe list — fixed-size
    #    dimension attach, not a candidate-pair explosion.
    #  - bm25_topk: same 1-row scalar attach as tfidf_topk (broadcast
    #    single-row N/TL relation)
    allowed_bnlj = {
        "near_dup_embeddings", "knn_join", "tfidf_topk", "bm25_topk",
        "ivf_lists", "ivfpq_topk", "ivfpq_topk_pruned",
    }
    offenders = []
    for qname, qfn in H.QUERIES.items():
        try:
            qp = plan_of(qfn(spark, sf_dir))
        except Exception as ex:  # a query that won't even plan is a failure
            offenders.append(f"{qname}:{type(ex).__name__}")
            continue
        if ("CartesianProduct" in qp or "BroadcastNestedLoopJoin" in qp) and (
            qname not in allowed_bnlj
        ):
            offenders.append(qname)
    check(
        "sweep: no unguarded cartesian/BNLJ in any registered query",
        not offenders,
        ",".join(offenders)[:100],
    )
    big = spark.range(0, H.ALLPAIRS_ROW_LIMIT + 1)
    try:
        H.assert_small_for_allpairs(big, "sweep")
        guard_trips = False
    except ValueError:
        guard_trips = True
    check("all-pairs twin: count guard trips above the row limit", guard_trips)

    n_fail = sum(1 for _, ok, _ in CHECKS if not ok)
    with open("BENCH/PLANS.md", "w") as f:
        f.write("# Physical-plan audit (tools/plan_audit.py)\n\n")
        f.write("Evidence that the plans are the ones a 100 TB deployment needs —\n")
        f.write("pushdown, pruning, broadcasts, fused shuffles, codegen.\n\n")
        f.write("| check | result | detail |\n|---|---|---|\n")
        for name, ok, detail in CHECKS:
            f.write(f"| {name} | {'PASS' if ok else 'FAIL'} | {detail} |\n")
    print(f"\n{n_fail} failures -> BENCH/PLANS.md")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
