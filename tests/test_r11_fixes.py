"""Round-11 hardening gates — the r10 ADVICE defects.

- track_broadcast holds at most _BROADCAST_LIMIT handles: past the
  cap the oldest is unpersisted and dropped, so a long serving
  session can no longer accumulate one pinned broadcast per query
  (ADVICE r10 medium).
- cached_persist's duplicate-build loser no longer unpersists the
  winner's blocks when the two plans are semantically equal (ADVICE
  r10 low — CacheManager uncaches by plan equality).
- the serving-budget eviction loop warns when it runs out of victims
  while still over budget (ADVICE r10 low).
- the engine's ANN index memo builds exactly once under concurrent
  first routed queries (ADVICE r10 low — per-engine double-checked
  lock).
- batch_dot_scores validates the WHOLE qid list against the inferred
  qid type and raises at the call site (ADVICE r10 low).
"""

from __future__ import annotations

import threading
import warnings

import pytest

from mnemo_spark import cache


class _FakeBroadcast:
    def __init__(self):
        self.unpersisted = False

    def unpersist(self):
        self.unpersisted = True


def test_track_broadcast_bounded(monkeypatch):
    monkeypatch.setattr(cache, "_BROADCAST_LIMIT", 3)
    monkeypatch.setattr(cache, "_SESSIONS", {})
    bcs = [_FakeBroadcast() for _ in range(5)]
    with cache.serving():
        for bc in bcs:
            cache.track_broadcast(bc)
        # only the 3 newest are retained; the 2 oldest were reclaimed
        # immediately, NOT held until serving exit
        [session] = cache._SESSIONS.values()
        assert session.broadcasts == bcs[2:]
        assert [b.unpersisted for b in bcs] == [True, True, False, False, False]
    # serving exit reclaims the remainder
    assert all(b.unpersisted for b in bcs)


def _mem_cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def test_duplicate_build_race_keeps_winner_blocks(spark, monkeypatch):
    """Force the cached_persist duplicate-build race with a barrier:
    both threads miss, both pin; the loser must NOT drop the winner's
    just-persisted blocks (plans are semantically equal)."""
    monkeypatch.setattr(cache, "_SESSIONS", {})
    barrier = threading.Barrier(2, timeout=30)
    real_pin = cache._pin

    def racing_pin(df, app_id, budget):
        pinned = real_pin(df, app_id, budget)
        barrier.wait()  # both threads finish building before either inserts
        return pinned

    monkeypatch.setattr(cache, "_pin", racing_pin)
    results = []

    def run():
        df = spark.range(100).selectExpr("id", "id * 2 AS v")
        got = cache.cached_persist(df, "r11_race")
        got.count()  # materialize
        results.append(got)

    with cache.serving():
        ts = [threading.Thread(target=run) for _ in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert len(results) == 2
        # both callers got the SAME stored handle
        assert results[0] is results[1] or (
            results[0]._jdf.queryExecution().analyzed().semanticHash()
            == results[1]._jdf.queryExecution().analyzed().semanticHash()
        )
        pins = cache._session(spark.sparkContext.applicationId).pins
        winner = pins[next(iter(pins))]
        # the winner's entry is still pinned (the loser's unpersist was
        # skipped) — storage level retains memory AND a recount finds
        # materialized blocks
        assert winner.storageLevel.useMemory
        winner.count()
        assert _mem_cached_bytes(spark) > 0


def test_budget_warning_fires_when_victims_exhausted(spark, monkeypatch):
    """Over budget with no tracked victims left → the warning still
    fires (the r10 rewrite's break could skip it)."""
    # a fresh session: not yet warned, nothing tracked to evict
    monkeypatch.setattr(cache, "_SESSIONS", {})
    # pin an UNTRACKED frame so session cached bytes are > 1
    anchor = spark.range(10_000).selectExpr("id", "id * 3 AS v").persist()
    anchor.count()
    try:
        df = spark.range(10).selectExpr("id")
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            pinned = cache._pin(
                df, spark.sparkContext.applicationId, budget_bytes=1
            )
            pinned.count()
            pinned2 = cache._pin(
                df.selectExpr("id AS j"),
                spark.sparkContext.applicationId,
                budget_bytes=1,
            )
        msgs = [str(x.message) for x in w]
        assert any("exceed the serving budget" in m for m in msgs), msgs
        pinned.unpersist()
        pinned2.unpersist()
    finally:
        anchor.unpersist()


def test_ann_memo_builds_once_under_concurrency(spark, monkeypatch):
    import datetime as dt
    import time

    import numpy as np

    from mnemo_spark.engine import MnemoSparkEngine

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = spark.createDataFrame(
        [
            (f"m{i}", "a1", f"spark window query {i} alpha beta", "semantic",
             "private", 0.5, [], t0)
            for i in range(40)
        ],
        "id string, agent_id string, content string, memory_type string, "
        "scope string, importance float, tags array<string>, "
        "created_at timestamp",
    )
    eng = MnemoSparkEngine(spark, embedding_dim=16).remember_batch(rows)
    calls = []
    real_build = eng._ann_build

    def slow_build(ann):
        calls.append(ann)
        time.sleep(0.3)  # widen the race window
        return real_build(ann)

    monkeypatch.setattr(eng, "_ann_build", slow_build)
    Q = np.ones((1, 16), dtype=np.float64)
    outs = []

    def run():
        outs.append(eng._ann_route(Q, "ivf"))

    ts = [threading.Thread(target=run) for _ in range(3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(calls) == 1, f"index built {len(calls)} times"
    assert len(outs) == 3 and all(o is not None for o in outs)


def test_qid_list_type_consistency_raises(spark):
    import numpy as np

    from mnemo_spark.operators.vector import batch_dot_scores

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "id long, embedding array<double>",
    )
    Q = np.ones((2, 2), dtype=np.float64)
    with pytest.raises(ValueError, match="type-consistent"):
        batch_dot_scores(corpus, [1, "a"], Q)
    with pytest.raises(ValueError, match="type-consistent"):
        batch_dot_scores(corpus, ["a", 2], Q)
    with pytest.raises(ValueError, match="type-consistent"):
        batch_dot_scores(corpus, [1.5, 2.5], Q)  # float qids: be explicit
    # a consistent list still works end-to-end
    got = batch_dot_scores(corpus, [0, 1], Q)
    assert got.count() == 10


def test_batch_bm25_wide_equals_join_form(spark):
    """The collapsed single-pass wide form (VERDICT r10 #3) must emit
    byte-identical rounded rows to the distributed term-join form on
    the same batch, including multi-term queries, repeated terms,
    unknown terms and empty-term queries."""
    import pandas as pd

    from mnemo_spark.operators import bm25 as B

    docs = spark.createDataFrame(
        [
            (1, "spark join window spark"),
            (2, "window query plan"),
            (3, "join join join spark"),
            (4, ""),  # token-less doc: counts in N/avgdl, never scores
            (5, "unrelated words only here"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [
            ("q1", ["spark", "join"]),
            ("q2", ["window", "window", "query"]),  # dup terms count once
            ("q3", ["absent"]),  # no hits -> no rows
            ("q4", []),
            ("q5", ["spark"]),  # duplicate qid: term sets must UNION
            ("q5", ["query"]),
        ],
        "query_id string, terms array<string>",
    )
    old = B.WIDE_MAX_QUERIES
    try:
        B.WIDE_MAX_QUERIES = 8  # the 6-row batch must take the wide form
        wide = B.batch_bm25(docs, queries)
        B.WIDE_MAX_QUERIES = 0  # and the join form for the same batch
        join_form = B.batch_bm25(docs, queries)
    finally:
        B.WIDE_MAX_QUERIES = old

    def pdf(df) -> pd.DataFrame:
        return (
            df.toPandas()
            .sort_values(["query_id", "doc_id"])
            .reset_index(drop=True)
        )

    pd.testing.assert_frame_equal(pdf(wide), pdf(join_form))
    got = pdf(wide)
    assert set(got["query_id"]) == {"q1", "q2", "q5"}
    assert 4 not in set(got["doc_id"])


def test_expand_lifted_equals_naive_walk(spark, bfs_reference):
    """expand on parent-pointer chains, including a cycle (ring), a
    lone seed and hops that are not a power of two, walks like the
    plain-Python BFS with and without per-hop dedup. (The id once
    gated the binary-lifting lane; the one walk replaced it.)"""
    from mnemo_spark.operators.graph import expand

    # two chains (one longer than hops), one 3-ring, one isolated seed
    edges = [(f"c{i+1}", f"c{i}") for i in range(12)]
    edges += [(f"d{i+1}", f"d{i}") for i in range(3)]
    edges += [("r0", "r1"), ("r1", "r2"), ("r2", "r0")]
    e = spark.createDataFrame(edges, "src string, dst string")
    seed_ids = ["c12", "d3", "r0", "lone"]
    seeds = spark.createDataFrame([(i,) for i in seed_ids], "id string")

    for hops in (1, 2, 3, 5, 8):
        want = {
            r[1:] for r in bfs_reference(edges, [(0, i) for i in seed_ids], hops, 0.5)
        }
        for dedup in (True, False):
            got = expand(e, seeds, hops=hops, decay=0.5, dedup_per_hop=dedup)
            assert {tuple(r) for r in got.collect()} == want, (hops, dedup)
    # sanity on the shape: 8 hops from c12 reaches c4..c12 (9 rows)
    got = expand(e, seeds, hops=8, decay=0.5).collect()
    assert len([r for r in got if r["id"].startswith("c")]) == 9
    assert [r["hop"] for r in got if r["id"] == "lone"] == [0]
