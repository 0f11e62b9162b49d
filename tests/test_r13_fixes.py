"""RRF fusion on corpus-scale lanes.

rrf_fuse and rrf_fuse_grouped rank every lane in one window pass;
these gates check that pass against the plain-Python reference RRF
(conftest `rrf_reference`) on lanes built from the test corpus —
real BM25 / cosine / length-prior scores for one query, and
synthetic per-query scores with ties for three — where the
hypothesis property in test_operators.py runs on a dozen rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mnemo_spark.operators.rrf import rrf_fuse, rrf_fuse_grouped


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.fixture(scope="module")
def doc_lanes(spark, sf_dir):
    """Three realistic single-query lanes over documents: bm25-ish,
    cosine-ish, and a length prior (the recall-family shape)."""
    from mnemo_spark.operators.recall_core import recall_scored

    scored = recall_scored(spark, sf_dir)
    return {
        "bm25": scored.filter(F.col("bm25").isNotNull()).select(
            "doc_id", F.col("bm25").alias("score")
        ),
        "embed": scored.filter(F.col("cos").isNotNull()).select(
            "doc_id", F.col("cos").alias("score")
        ),
        "length": scored.select(
            "doc_id", F.col("length_score").alias("score")
        ),
    }


@pytest.mark.parametrize("lane_limit", [30, None])
def test_rrf_fuse_unified_equiv(doc_lanes, rrf_reference, lane_limit):
    w = {"bm25": 3.0, "embed": 6.0, "length": 1.0}
    got = rrf_fuse(doc_lanes, w, 60, lane_limit=lane_limit, limit=20)
    want = rrf_reference(
        {name: _pairs(df) for name, df in doc_lanes.items()},
        w, 60, lane_limit=lane_limit, limit=20,
    )
    assert len(want) == 20
    assert sorted(tuple(r) for r in got.collect()) == sorted(want)


@pytest.mark.parametrize("lane_limit", [25, None])
def test_rrf_fuse_grouped_unified_equiv(
    spark, grouped_lanes, rrf_reference, lane_limit
):
    lanes, qids = grouped_lanes
    plain = {k: v.drop("source") for k, v in lanes.items()}
    w = {"lex": 3.0, "sem": 6.0, "length": 1.0}
    got = rrf_fuse_grouped(
        plain,
        w,
        60,
        group_col="query_id",
        id_col="doc_id",
        lane_limit=lane_limit,
        limit=10,
        groups=qids,
    )
    prior = _pairs(plain["length"])
    want = set()
    for q in [r["query_id"] for r in qids.collect()]:
        per_query = {
            name: _pairs(plain[name].filter(F.col("query_id") == q))
            for name in ("lex", "sem")
        }
        fused = rrf_reference(
            dict(per_query, length=prior), w, 60, lane_limit=lane_limit, limit=10
        )
        assert len(fused) == 10
        want |= {(q, i, s, rank) for i, s, rank in fused}
    cols = ["query_id", "doc_id", "rrf_score", "rank"]
    assert {tuple(r[c] for c in cols) for r in got.collect()} == want
