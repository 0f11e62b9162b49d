"""registry: a fixed set of registry queries, warm, on a seeded corpus.

The set holds at least one query from each of the eleven modules that
define `mnemo_spark.registry.QUERIES`, the operator-heavy queries
(chain fold, n-gram and SimHash dedup, fuzzy match, batched graph
recall, batch embedding, two multi-join TPC-H shapes) and one of the
three rows-only queries. The corpus is generated at sf0.01 from the
seed.

Regime: the warm serving regime of the repo's bench.py — table cache
and prepared plans on (MNEMO_CACHE_TABLES=1). Set-up generates the
tables, caches them, then runs one cold pass that collects every
query's rows for the output checks. Each timed pass runs every query
once in a seed-shuffled order with .count() as the action; passes
repeat until the time budget is spent, and at least three run.
Checks: each count equals the collected row count, each oracle query
matches DuckDB on the same files, each rows-only query holds its
self-check columns.
"""

from __future__ import annotations

import os
import time

SF = 0.01
QUERY_SET = (
    # registry (core)
    "assign_chain_events",
    "ngram_jaccard_pairs",
    "q5_region_revenue",
    "q8_market_share",  # queries_tpch
    # one or two per remaining module
    "funnel_users",  # queries_analytics
    "embed_batch_docs",  # queries_embed
    "hmac_receipts_events",  # queries_engine, rows-only
    "code_mode_savings_docs",  # queries_interop
    "decay_pass_events",  # queries_lifecycle
    "fuzzy_match_docs",  # queries_pipeline
    "recall_batch_graph_docs",  # queries_recall
    "interval_join_events",  # queries_sql
    "simhash_near_dup_pairs",  # queries_text
)
SETUP_REPEATS = 2  # data set-up runs; set-up time counts their median
# each query's median then discards one pass slowed by a burst of load
# from other tenants of the host
MIN_PASSES = 3


def run(ctx) -> None:
    import datagen
    from checks import OracleChecker

    # the serving regime must be on before the first table is loaded
    os.environ["MNEMO_CACHE_TABLES"] = "1"
    from mnemo_spark import cache, io, registry
    from mnemo_spark.registry import ORACLE, QUERIES

    spark, rec = ctx.spark, ctx.rec
    sf_dir = str(ctx.work / "sf")

    def data_setup():
        io.clear_table_cache()
        registry.clear_plan_cache()
        cache.clear(force=True)
        t0 = time.perf_counter()
        rows = datagen.generate(sf_dir, ctx.seed, SF)
        t1 = time.perf_counter()
        for t in io.TABLES:
            io.load_table(spark, sf_dir, t).count()
        return rows, t1 - t0, time.perf_counter() - t1

    # generate + cache the tables; repeated, set-up counts the median
    table_rows, gen_s, warm_s = ctx.repeat_setup("data", data_setup, SETUP_REPEATS)
    ctx.phases["datagen_s"] = gen_s
    ctx.phases["io.table_warm_s"] = warm_s

    def collect(name):
        def build():
            df = QUERIES[name](spark, sf_dir)
            return df.columns, [tuple(r) for r in df.collect()]

        return build

    # cold pass: builds and caches every plan, collects rows for checks
    collected = {}

    def cold_pass():
        for name in ctx.rng.permutation(QUERY_SET):
            out = rec.op(name, collect(name), action=None, timed=False)
            if out is not None:
                collected[name] = out

    ctx.phase("cold_pass_s", cold_pass)
    ctx.setup_done()

    t_start = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - t_start < ctx.seconds:
        for name in ctx.rng.permutation(QUERY_SET):
            n = rec.op(name, lambda name=name: QUERIES[name](spark, sf_dir), "count")
            if n is not None and name in collected and n != len(collected[name][1]):
                rec.fail(name, f"count {n} != collected {len(collected[name][1])}")
        passes += 1
    ctx.phases["measure_s"] = time.perf_counter() - t_start

    t_checks = time.perf_counter()
    checker = OracleChecker(sf_dir, io.TABLES)
    try:
        for name in QUERY_SET:
            rec.attempted += 1
            if name not in collected:
                rec.fail(name, "no rows collected to check")
                continue
            cols, rows = collected[name]
            why = checker.check(cols, rows, ORACLE.get(name))
            if why is not None:
                rec.fail(name, why)
    finally:
        checker.close()
    ctx.phases["checks_s"] = time.perf_counter() - t_checks

    from tracing import geomean, median

    med = [median(rec.samples[n]) for n in QUERY_SET if rec.samples[n]]
    for name in QUERY_SET:  # traced: action time split by defining module
        if rec.layers[name].get("plan.action_s"):
            key = QUERIES[name].__module__.rsplit(".", 1)[-1] + ".action_s"
            ctx.layers[key] = ctx.layers.get(key, 0.0) + median(rec.layers[name]["plan.action_s"])
    ctx.named.update(
        data_dir=sf_dir,
        sf=SF,
        table_rows=table_rows,
        queries=len(QUERY_SET),
        oracle_queries=sum(1 for n in QUERY_SET if n in ORACLE),
        passes=passes,
        query_total_s=round(sum(med), 4),
        query_geomean_s=round(geomean(med), 4),
    )
