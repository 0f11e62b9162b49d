"""Round-12 hardening gates — the r11 ADVICE defects.

- batch_bm25's wide-form dispatch on an EMPTY docs frame returns the
  empty-schema result instead of raising TypeError on float(None)
  (ADVICE r11 medium — reachable via recall_batch lexical/hybrid
  lanes on an empty memory store with a ≤4-query batch).
- expand and expand_grouped with hops < 1 return the seeds only
  (ADVICE r11 found the binary-lifting lane returning 1-hop neighbours
  at hops=0; that lane is gone).
- outside a serving session a deep walk pins nothing (ADVICE r11 —
  the binary-lifting lane's level pins once accumulated per call).
- the EWMA alpha edge cases live in tests/test_baseline.py
  (test_ewma_alpha_edge_cases) and the overflow fix in
  test_ewma_chunked_survives_10k_windows.
- the recall_routed_docs oracle tie contract (rank on round(raw, 6))
  is held by the oracle sweep itself.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mnemo_spark import cache


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_batch_bm25_wide_empty_corpus(spark):
    from mnemo_spark.operators.bm25 import batch_bm25, batch_bm25_wide

    out = batch_bm25_wide(_empty_docs(spark), [("q1", ["spark", "join"])])
    assert out.count() == 0
    assert out.columns == ["query_id", "doc_id", "bm25"]
    # and through the auto-dispatch (the ADVICE repro: small batch on
    # an empty corpus routes to the wide form)
    q = spark.createDataFrame(
        [("q1", ["spark", "join"])], "query_id string, terms array<string>"
    )
    out2 = batch_bm25(_empty_docs(spark), q)
    assert out2.count() == 0
    assert out2.columns == ["query_id", "doc_id", "bm25"]


def test_batch_bm25_wide_empty_corpus_matches_join_form(spark):
    """The lazy join form returned an empty frame on an empty corpus;
    the wide form must agree (same schema, zero rows)."""
    from mnemo_spark.operators.bm25 import batch_bm25

    # 33 queries forces the join form (> WIDE_MAX_QUERIES)
    q = spark.createDataFrame(
        [(f"q{i}", ["spark"]) for i in range(33)],
        "query_id string, terms array<string>",
    )
    join_form = batch_bm25(_empty_docs(spark), q)
    assert join_form.count() == 0
    assert join_form.columns == ["query_id", "doc_id", "bm25"]


def _chain_edges(spark, n=10):
    # parent-pointer chain 0 <- 1 <- ... <- n-1 (out-degree 1)
    return spark.createDataFrame(
        [(i, i - 1) for i in range(1, n)], "src long, dst long"
    )


def test_expand_lifted_hops0_returns_seeds_only(spark):
    from mnemo_spark.operators.graph import expand, expand_grouped

    edges = _chain_edges(spark)
    seeds = spark.createDataFrame([(5,), (9,)], "id long")
    grouped = seeds.select(F.lit("q").alias("query_id"), "id")
    for hops in (0, -1):
        assert {tuple(r) for r in expand(edges, seeds, hops=hops).collect()} == {
            (5, 0, 1.0), (9, 0, 1.0)
        }, hops
        got = {tuple(r) for r in expand_grouped(edges, grouped, hops=hops).collect()}
        assert got == {("q", 5, 0, 1.0), ("q", 9, 0, 1.0)}, hops


def test_expand_lifted_releases_level_pins(spark):
    from mnemo_spark.operators.graph import expand

    assert not cache.serving_enabled()
    # fresh, unambiguous edge plan so its pins are attributable
    edges = _chain_edges(spark, 64).withColumn("salt", F.lit("r12-pin-test"))
    seeds = spark.createDataFrame([(63,),], "id long")
    def pinned_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = pinned_ids()
    out = expand(edges.select("src", "dst"), seeds, hops=8)
    assert len(out.collect()) == 9
    # outside serving the walk pins neither its edges nor its layers
    assert pinned_ids() - before == set(), before


def test_track_pin_reclaimed_by_clear(spark):
    df = spark.range(100).withColumn("salt", F.lit("r12-track-pin"))
    pinned = cache.track_pin(df)
    pinned.count()
    assert pinned.storageLevel.useMemory or pinned.storageLevel.useDisk
    cache.clear()
    assert not (pinned.storageLevel.useMemory or pinned.storageLevel.useDisk)
