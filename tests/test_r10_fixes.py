"""Round-10 hardening gates.

Covers the r9 ADVICE defects and the r10 VERDICT items that landed as
library mechanics rather than registry queries:

- engine save()/load() embedder-identity manifest (ADVICE r9 medium):
  a dim-incompatible load refuses with a diagnostic instead of
  crashing later inside the dense kernel or corrupting the store.
- batch_dot_scores ragged/wrong-width corpus vectors fail loud WITH
  the dims (ADVICE r9 low).
- broadcast_if_small gates the hard F.broadcast hint on Catalyst's
  size estimate (ADVICE r9 low).
- cache.clear() is a warn-and-no-op while a serving context is active
  (ADVICE r9 low) and the serving byte budget evicts oldest tracked
  entries instead of accumulating without bound (VERDICT r9 #5).
- expand_grouped walks like the plain-Python BFS reference, with and
  without `visible`, and rejects a seeds frame without its group
  column (the driver-coordinated bounded walk these ids first gated,
  VERDICT r9 #1, is gone: there is one walk).
- localize_small materializes a provably-bounded frame as a local
  relation with identical rows, and raises when the claimed bound
  does not hold.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mnemo_spark import cache


def _pdf(df) -> pd.DataFrame:
    return df.toPandas().sort_values(list(df.columns)).reset_index(drop=True)


# -- save/load embedder manifest (ADVICE r9 medium) ---------------------


def _tiny_engine(spark, dim=16):
    import datetime as dt

    from mnemo_spark.engine import MnemoSparkEngine

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = spark.createDataFrame(
        [
            (f"m{i}", "a1", f"spark window query {i}", "semantic",
             "private", 0.5, [], t0)
            for i in range(5)
        ],
        "id string, agent_id string, content string, memory_type string, "
        "scope string, importance float, tags array<string>, "
        "created_at timestamp",
    )
    return MnemoSparkEngine(spark, embedding_dim=dim).remember_batch(rows)


def test_save_records_embedder_meta(spark, tmp_path):
    import json
    import os

    store = str(tmp_path / "store")
    _tiny_engine(spark, dim=16).save(store)
    meta_path = os.path.join(store, "engine_meta.json")
    assert os.path.exists(meta_path)
    with open(meta_path) as fh:
        meta = json.load(fh)
    assert meta["embedding_dim"] == 16
    assert meta["embedder"] == "HashBagEmbedder"


def test_load_default_resolves_stored_dim(spark, tmp_path):
    from mnemo_spark.engine import MnemoSparkEngine

    store = str(tmp_path / "store")
    _tiny_engine(spark, dim=16).save(store)
    eng = MnemoSparkEngine.load(spark, store)  # no explicit dim
    assert eng.dim == 16
    # recall runs (the pre-fix failure mode was a numpy shape error)
    assert eng.recall("spark query", "a1", k=3).count() > 0


def test_load_refuses_dim_mismatch(spark, tmp_path):
    from mnemo_spark.engine import MnemoSparkEngine

    store = str(tmp_path / "store")
    _tiny_engine(spark, dim=16).save(store)
    with pytest.raises(ValueError, match="16-d.*asked for 32-d"):
        MnemoSparkEngine.load(spark, store, embedding_dim=32)


def test_load_legacy_store_probes_width(spark, tmp_path):
    """A store saved before engine_meta.json existed still refuses a
    wrong-dim load via the one-row vector-width probe."""
    import os

    from mnemo_spark.engine import MnemoSparkEngine

    store = str(tmp_path / "store")
    _tiny_engine(spark, dim=16).save(store)
    os.remove(os.path.join(store, "engine_meta.json"))
    with pytest.raises(ValueError, match="16-d"):
        MnemoSparkEngine.load(spark, store, embedding_dim=32)
    assert MnemoSparkEngine.load(spark, store).dim == 16


# -- batch_dot_scores ragged-width diagnostic (ADVICE r9 low) -----------


def test_batch_dot_scores_names_dims_on_ragged_corpus(spark):
    import numpy as np

    from mnemo_spark.operators.vector import batch_dot_scores

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0])],  # ragged: 3-d and 2-d
        "vec_id int, embedding array<double>",
    )
    Q = np.asarray([[1.0, 0.0, 0.0]])
    out = batch_dot_scores(
        corpus, ["q1"], Q, corpus_id="vec_id", corpus_vec="embedding",
        query_id="query_id",
    )
    with pytest.raises(Exception, match="batch_dot_scores.*incompatible"):
        out.collect()


# -- broadcast_if_small (ADVICE r9 low) ---------------------------------


def test_broadcast_if_small_gates_on_estimate(spark):
    from mnemo_spark.io import broadcast_if_small

    small = spark.range(10).select(F.col("id").alias("k"))
    hinted = broadcast_if_small(small)
    assert hinted is not small  # under the cap → hinted
    # a zero-byte cap can never be satisfied → frame returned unhinted
    assert broadcast_if_small(small, cap_bytes=0) is small
    # the hint actually produces a broadcast join
    fact = spark.range(1000).select(F.col("id").alias("k"))
    plan = fact.join(hinted, "k")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# -- serving-cache thread-safety + byte budget --------------------------


def test_clear_noop_while_serving_active(spark, sf_dir):
    from mnemo_spark.registry import _t

    with cache.serving():
        df = cache.cached_persist(
            _t(spark, sf_dir, "region").select("r_regionkey"), "r10_test_a"
        )
        df.count()
        app_id = spark.sparkContext.applicationId
        assert len(cache._session(app_id).pins) >= 1
        with pytest.warns(UserWarning, match="serving context"):
            cache.clear()  # refused: a serving context is open
        assert len(cache._session(app_id).pins) >= 1  # nothing drained
        cache.clear(force=True)  # explicit override drains
        assert len(cache._session(app_id).pins) == 0
    assert len(cache._session(app_id).pins) == 0


def test_budget_evicts_oldest_tracked_entry(spark, sf_dir, monkeypatch):
    """With a 1-byte budget every new materialized pin evicts the
    older tracked entries — degrade-to-recompute, never unbounded."""
    import mnemo_spark.params as P
    from mnemo_spark.registry import _t

    monkeypatch.setattr(P, "SERVING_CACHE_BUDGET_BYTES", 1)
    app_id = spark.sparkContext.applicationId
    with cache.serving():
        cache._session(app_id).warned = True  # quiet
        a = cache.cached_persist(
            _t(spark, sf_dir, "region").select("r_regionkey"), "r10_bud_a"
        )
        a.count()  # materialize so its bytes are visible to the budget
        key_a = next(k for k in cache._session(app_id).pins if "r10_bud_a" in k)
        b = cache.cached_persist(
            _t(spark, sf_dir, "nation").select("n_nationkey"), "r10_bud_b"
        )
        assert key_a not in cache._session(app_id).pins, "older entry not evicted"
        # the evicted frame still computes correctly (recompute path)
        assert a.count() == 5
        assert b.count() == 25


# -- grouped expansion ≡ the BFS reference -----------------------------


_TOY_EDGES = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (2, 10)]
_TOY_SEEDS = [("q1", 1), ("q1", 10), ("q2", 3)]


def _toy_graph(spark):
    edges = spark.createDataFrame(_TOY_EDGES, "src bigint, dst bigint")
    seeds = spark.createDataFrame(_TOY_SEEDS, "g string, id bigint")
    return edges, seeds


@pytest.mark.parametrize("bidir", [False, True])
def test_expand_grouped_bounded_equivalence(spark, bfs_reference, bidir):
    from mnemo_spark.operators.graph import expand_grouped

    edges, seeds = _toy_graph(spark)
    got = expand_grouped(
        edges, seeds, hops=2, decay=0.5, group_col="g", seed_col="id",
        bidirectional=bidir,
    )
    want = bfs_reference(_TOY_EDGES, _TOY_SEEDS, 2, 0.5, bidirectional=bidir)
    assert {tuple(r) for r in got.collect()} == want


def test_expand_grouped_bound_violation_raises(spark):
    """The frontier-bound guard this id first checked went with the
    driver-coordinated walk. What it checks now is the walk's input
    contract: a seeds frame without `group_col` is rejected."""
    from pyspark.errors import AnalysisException

    from mnemo_spark.operators.graph import expand_grouped

    edges, seeds = _toy_graph(spark)
    with pytest.raises(AnalysisException):
        expand_grouped(
            edges, seeds.select("id"), hops=2, group_col="g", seed_col="id"
        )


def test_expand_grouped_bounded_respects_visibility(spark, bfs_reference):
    from mnemo_spark.operators.graph import expand_grouped

    edges, seeds = _toy_graph(spark)
    vis = spark.createDataFrame([(2,), (3,), (11,)], "id bigint")
    got = expand_grouped(
        edges, seeds, hops=2, group_col="g", seed_col="id", visible=vis
    )
    want = bfs_reference(_TOY_EDGES, _TOY_SEEDS, 2, 0.5, visible={2, 3, 11})
    assert {tuple(r) for r in got.collect()} == want
    # 3 is reached through the visible 2; the invisible 12 and 4 are not
    assert ("q1", 3, 2, 0.25) in want
    assert not {r for r in want if r[1] in (4, 12)}


# -- localize_small ------------------------------------------------------


def test_localize_small_identical_rows_one_partition(spark):
    from mnemo_spark.io import localize_small

    df = spark.range(0, 100, 1, 8).select(
        F.col("id"), (F.col("id") % 7).alias("m")
    )
    local = localize_small(df)
    assert local.rdd.getNumPartitions() == 1
    pd.testing.assert_frame_equal(_pdf(df), _pdf(local))


def test_localize_small_bound_violation_raises(spark):
    from mnemo_spark.io import localize_small

    with pytest.raises(ValueError, match="10-row driver bound"):
        localize_small(spark.range(100), max_rows=10)


def test_localize_small_fallback_returns_lazy_frame(spark):
    """fallback=True: an over-bound frame degrades to the original
    lazy plan (same rows, NOT localized) instead of raising — the
    engine's graph batch uses this so huge query batches still serve."""
    from mnemo_spark.io import localize_small

    df = spark.range(100)
    out = localize_small(df, max_rows=10, fallback=True)
    assert out is df  # the original plan, untouched
    assert out.count() == 100


def test_track_broadcast_reclaimed_on_clear(spark):
    """Kernel broadcasts registered during a serving session are
    unpersisted (executor copies dropped) when the session drains —
    and a post-clear use still works via driver re-fetch."""
    from mnemo_spark import cache

    with cache.serving():
        bc = spark.sparkContext.broadcast([1, 2, 3])
        cache.track_broadcast(bc)
        assert cache._session(spark.sparkContext.applicationId).broadcasts
    # context exit drained the tracked list
    assert not any(s.broadcasts for s in cache._SESSIONS.values())
    # unpersisted, not destroyed: value still readable (driver copy)
    assert bc.value == [1, 2, 3]


def test_track_broadcast_noop_outside_serving(spark):
    from mnemo_spark import cache

    bc = spark.sparkContext.broadcast([4])
    cache.track_broadcast(bc)
    assert all(bc not in s.broadcasts for s in cache._SESSIONS.values())
