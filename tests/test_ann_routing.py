"""Dense-lane ANN routing (VERDICT r9 #3): recall_batch — and so
`recall`, which is recall_batch over a one-row query frame — routes
its semantic lane through IVF cell probing above a store-size
threshold (params.ANN_ROUTE_MIN_CORPUS), mirroring the reference's
serve-from-HNSW-not-exact choice (index/usearch.rs:18-28).

Contracts proven here:
- routed scores are EXACT dot scores on the probed candidate subset
  (the approximation is candidate pruning, never score distortion);
- ann='auto' below the threshold is bit-identical to ann='exact';
- under forced routing a query's rows do not depend on the other
  queries in its batch (each probes only its own cells);
- a forced 'ivf' on a vectorless store refuses loudly;
- the cell index artifact covers every embedded row with a valid cell.

Quality (recall@10 ≥ 0.95 vs exact at the 10x corpus) is gated by
tools/eval_ann.py --routed — scale-dependent, so not a unit test.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _engine(spark, n=400, dim=64):
    from mnemo_spark.engine import MnemoSparkEngine

    rows = spark.createDataFrame(
        [
            (
                f"m{i:05d}",
                "a1",
                f"doc topic{i % 23} spark window term{i % 7} body {i}",
                "semantic",
                "private",
                0.5,
                [],
                T0,
            )
            for i in range(n)
        ],
        "id string, agent_id string, content string, memory_type string, "
        "scope string, importance float, tags array<string>, "
        "created_at timestamp",
    )
    return MnemoSparkEngine(spark, embedding_dim=dim).remember_batch(rows).materialized()


def _pairs(df):
    return {(r["query_id"], r["id"]) for r in df.select("query_id", "id").collect()}


def _queries(spark):
    return spark.createDataFrame(
        [("q1", "spark window term3"), ("q2", "topic11 body")],
        "query_id string, query string",
    )


def test_routed_scores_are_exact_on_candidates(spark):
    """Every routed (query, id, score) must carry the SAME score the
    exact kernel assigns that pair — routing prunes candidates, it
    never changes scoring."""
    eng = _engine(spark)
    qs = _queries(spark)
    exact = {
        (r["query_id"], r["id"]): r["score"]
        for r in eng.recall_batch(qs, "a1", strategy="semantic", k=10, ann="exact")
        .select("query_id", "id", "score")
        .collect()
    }
    # full exact lane (no top-k truncation) for score lookups beyond
    # the exact top-10
    corpus, _ = eng._recall_corpus("a1", None, None, None)
    full = {
        (r["_qid"], r["id"]): r["score"]
        for r in eng._dot_lane(
            corpus,
            qs.select(
                F.col("query_id").alias("_qid"),
                eng._embed(F.col("query")).alias("_qv"),
            ),
            ann="exact",
        ).collect()
    }
    routed = eng.recall_batch(qs, "a1", strategy="semantic", k=10, ann="ivf")
    for r in routed.select("query_id", "id", "score").collect():
        key = (r["query_id"], r["id"])
        assert key in full, f"routed emitted a pair the exact lane never scored: {key}"
        # the recall pipeline rounds lane scores to 6dp downstream
        assert abs(full[key] - r["score"]) < 1e-6
    # sanity: decent overlap even on a tiny degenerate store
    ov = len(set(exact) & _pairs(routed)) / len(exact)
    assert ov >= 0.5


def test_auto_below_threshold_is_exact(spark):
    """Default threshold is 200k rows — a 400-row store must serve the
    identical frame under 'auto' and 'exact'."""
    eng = _engine(spark)
    qs = _queries(spark)
    a = eng.recall_batch(qs, "a1", strategy="semantic", k=10, ann="auto")
    e = eng.recall_batch(qs, "a1", strategy="semantic", k=10, ann="exact")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, e.collect()))


def test_routed_query_independent_of_batch(spark):
    eng = _engine(spark)
    alone = {
        r["id"]
        for r in eng.recall("spark window term3", "a1", strategy="semantic",
                            k=10, ann="ivf").collect()
    }
    batched = {
        r["id"]
        for r in eng.recall_batch(_queries(spark), "a1", strategy="semantic",
                                  k=10, ann="ivf")
        .filter(F.col("query_id") == "q1")
        .collect()
    }
    assert alone and alone == batched


def test_forced_ivf_without_vectors_refuses(spark):
    from mnemo_spark.engine import MnemoSparkEngine
    from mnemo_spark.functions.embed_batch import NoopEmbedder

    eng = MnemoSparkEngine(spark, embedding_dim=8, embedder=NoopEmbedder(8))
    eng.memories = eng.memories  # empty store
    import numpy as np

    with pytest.raises(RuntimeError, match="ann='ivf'"):
        eng._ann_route(np.ones((1, 8)), "ivf")


def test_cell_artifact_covers_store(spark):
    """The persisted id→cell frame must assign every embedded row one
    cell in [0, n_cells)."""
    import numpy as np

    eng = _engine(spark, n=300)
    route = eng._ann_route(
        np.ones((1, 64), dtype=np.float64) / 8.0, "ivf"
    )
    assert route is not None
    C, cellq, cell_frame = route
    rows = cell_frame.collect()
    assert len(rows) == 300
    cells = {r["_cell"] for r in rows}
    assert all(0 <= c < len(C) for c in cells)
    # probe map indexes real cells
    assert all(0 <= c < len(C) for c in cellq)
