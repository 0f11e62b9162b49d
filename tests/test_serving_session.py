"""Serving-session cache lifecycle (VERDICT r8 #5): the scoped
`engine.serving()` / `cache.serving()` surface must (a) leave results
bit-identical to one-shot mode, and (b) release EVERY block it pinned
on exit — asserted against the JVM's persistent-RDD registry, not our
own bookkeeping."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mnemo_spark import cache


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _pdf(df) -> pd.DataFrame:
    return df.toPandas().sort_values(list(df.columns)).reset_index(drop=True)


def test_serving_releases_all_pinned_blocks(spark, sf_dir):
    """Run the cache-hungriest operators (range-pin windows, graph
    expand edge persist, batch BM25 postings, table scans, a spread
    table, a prepared registry query with its per-doc pin) inside a
    serving session; on exit no NEW persistent RDD may remain and the
    serving session holds no entry of any kind."""
    from mnemo_spark import io
    from mnemo_spark.operators.bm25 import batch_bm25
    from mnemo_spark.operators.graph import expand
    from mnemo_spark.operators.window_ops import global_cumsum, global_ntile
    from mnemo_spark.registry import QUERIES, _t

    before = _persisted_ids(spark)

    def run_all():
        orders = _t(spark, sf_dir, "orders")
        cum = global_cumsum(
            orders.select("o_orderkey", "o_totalprice"),
            [F.desc("o_totalprice"), F.asc("o_orderkey")],
            "o_totalprice",
            "cum",
        ).agg(F.round(F.sum("cum"), 2).alias("s"))
        nt = global_ntile(
            orders.select("o_orderkey"),
            [F.asc("o_orderkey")],
            4,
            "q",
        ).groupBy("q").agg(F.count("*").alias("n"))
        docs = _t(spark, sf_dir, "documents").limit(200)
        edges = docs.select(
            F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
        )
        seeds = spark.range(0, 3, 1, 1).select(F.col("id").alias("doc_id"))
        ex = expand(edges, seeds, hops=2, seed_col="doc_id")
        queries = spark.createDataFrame(
            [("q1", ["spark", "join"]), ("q2", ["window"])],
            "query_id string, terms array<string>",
        )
        bm = batch_bm25(docs, queries, id_col="doc_id", text_col="text")
        rb = QUERIES["recall_batch_docs"](spark, sf_dir)
        sp = io.spread_table(spark, sf_dir, "documents").agg(
            F.count("*").alias("n"), F.sum("doc_id").alias("s")
        )
        return {
            "cum": _pdf(cum),
            "nt": _pdf(nt),
            "ex": _pdf(ex),
            "bm": _pdf(bm),
            "rb": _pdf(rb),
            "sp": _pdf(sp),
        }

    with cache.serving():
        served = run_all()
        # the session genuinely pinned something while active
        assert _persisted_ids(spark) - before, "serving session pinned nothing"
    after = _persisted_ids(spark)
    assert after - before == set(), f"leaked persistent RDDs: {after - before}"
    assert cache._SESSIONS == {}, "serving exit left session entries"

    # one-shot mode produces identical results (plain persists there
    # are plan-deduped, not tracked — bounded, documented posture)
    oneshot = run_all()
    for k in served:
        pd.testing.assert_frame_equal(served[k], oneshot[k])


def test_cached_persist_raises_on_non_frame(spark):
    """Only what a stopped or foreign Spark session raises is swallowed
    by the serving cache; a caller's bug (here: not a DataFrame at all)
    surfaces instead of being returned unpinned."""
    with cache.serving():
        with pytest.raises(AttributeError):
            cache.cached_persist(object(), "k")


def test_cached_value_rebuilds_on_store_mutation(spark):
    """VERDICT r12 #7: cached_value keys on the corpus plan's semantic
    hash, so a store MUTATION (remember/forget — including through
    clone lineages) must change the key and rebuild the memoized
    value, while plan-equal engines HIT the same memo. Staleness here
    would be silent (a routed recall serving yesterday's row count /
    codebook against today's store)."""
    from datetime import datetime, timezone

    from mnemo_spark.engine import MnemoSparkEngine

    t0 = datetime(2025, 1, 1, tzinfo=timezone.utc)

    def mems(ids):
        return spark.createDataFrame(
            [
                (i, "alice", f"fact {i}", "semantic", "private", 0.5, [], t0)
                for i in ids
            ],
            "id string, agent_id string, content string,"
            " memory_type string, scope string, importance float,"
            " tags array<string>, created_at timestamp",
        )

    builds = []

    def probe(eng):
        def _build():
            builds.append(1)
            return eng.memories.count()

        return cache.cached_value(
            _build, "coherence_probe", key_plan=eng.memories
        )

    cache.clear()
    with cache.serving():
        eng = MnemoSparkEngine(spark).remember_batch(mems(["m1", "m2"]))
        assert probe(eng) == 2
        assert probe(eng) == 2 and len(builds) == 1  # memo hit
        # a plan-equal clone shares the memo (no rebuild)
        assert probe(eng._clone()) == 2 and len(builds) == 1
        # remember → new plan → rebuild with the fresh count
        eng2 = eng.remember_batch(mems(["m3"]))
        assert probe(eng2) == 3 and len(builds) == 2
        # forget through the clone lineage → rebuild again
        eng3 = eng2.forget(["m1"], strategy="hard")
        assert probe(eng3) == 2 and len(builds) == 3
        # the prior lineage's memo is still keyed separately
        assert probe(eng2) == 3 and len(builds) == 3
    cache.clear()


def test_engine_serving_roundtrip(spark):
    """engine.serving() context + engine.release() drain the tracked
    cache; recall results identical in and out of the session."""
    import datetime as dt

    from mnemo_spark.engine import MnemoSparkEngine

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = spark.createDataFrame(
        [
            (
                f"m{i}",
                "a1",
                f"spark window query {i}",
                "semantic",
                "private",
                0.5,
                [],
                t0 + dt.timedelta(minutes=i),
            )
            for i in range(20)
        ],
        "id string, agent_id string, content string, memory_type string, "
        "scope string, importance float, tags array<string>, "
        "created_at timestamp",
    )
    eng = MnemoSparkEngine(spark).remember_batch(rows)
    before = _persisted_ids(spark)
    with eng.serving():
        r1 = _pdf(eng.recall("spark query", "a1", k=5))
    assert _persisted_ids(spark) - before == set()
    r2 = _pdf(eng.recall("spark query", "a1", k=5))
    pd.testing.assert_frame_equal(r1, r2)
    eng.release()  # idempotent, safe with nothing tracked


def test_track_pin_dedupes_plan_equal(spark):
    cache.clear()
    app_id = spark.sparkContext.applicationId
    n0 = len(cache._session(app_id).oneshot)
    for _ in range(5):
        df = spark.range(100).withColumn("v", F.col("id") * 2)
        cache.track_pin(df).count()
        df.unpersist()
    assert len(cache._session(app_id).oneshot) == n0 + 1
    cache.clear()


def test_compact_pin_sizes_to_true_bytes(spark):
    """_size_coalesced must size a compact pin to the frame's TRUE
    bytes even when (a) Catalyst's estimate inflates on explode/agg
    lineage (orders of magnitude: the bm25 tf artifact estimated ~274
    GB at 85 KB true) and (b) df.rdd.getNumPartitions() reports the
    AQE-coalesced view that a persisted plan does NOT inherit
    (canChangeCachedPlanOutputPartitioning=false) — the two failure
    modes that left small artifacts pinned as shuffle.partitions
    near-empty blocks."""
    cache.clear()
    with cache.serving():
        # explode/agg lineage: tiny true size, inflated estimate
        df = (
            spark.range(2000)
            .select(F.explode(F.sequence(F.lit(0), F.lit(4))).alias("e"), "id")
            .groupBy((F.col("id") % 50).alias("k"))
            .agg(F.count("*").alias("n"))
        )
        pinned = cache.cached_persist(df, "true_size_pin", compact=True)
        pinned.count()  # materialize the cached layout
        # assert on the pinned frame DIRECTLY (a storage-info scan
        # matches ANY small cached RDD, so the gate could pass
        # vacuously off an unrelated pin). The persisted plan's own
        # partitioning is what the coalesce must reach.
        pin_parts = pinned.rdd.getNumPartitions()
        assert pin_parts <= 2, (
            f"50-row compact pin materialized at {pin_parts} blocks "
            "- the true-size coalesce did not reach the cached plan"
        )
    cache.clear(force=True)
