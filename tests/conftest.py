from __future__ import annotations

import math
import os
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mnemo_spark.functions.text import TOKEN_PATTERN  # noqa: E402
from mnemo_spark.io import load_table  # noqa: E402
from mnemo_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("MNEMO_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # MNEMO_TEST_CPUS: tools/partest.py runs N pytest processes with
    # local[4] each. Unset, get_spark sizes the session from the host
    # (SPARK_GRAFT_CPUS, else the CPU count)
    cpus = os.environ.get("MNEMO_TEST_CPUS")
    s = get_spark("mnemo_tests", cpus=int(cpus) if cpus else None)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _rrf_reference(lanes, weights=None, rrf_k=60, lane_limit=None, limit=None):
    """Plain-Python weighted RRF (query/retrieval.rs:7-29).

    lanes: name -> [(id, score)]. Each lane ranks 1-based by
    (round(score, 6) desc, id asc) and keeps its top lane_limit when
    set; fused(id) = round(Σ_lanes w / (rrf_k + rank), 6) with weights
    defaulting to 1.0. -> [(id, rrf_score, rank)] by (score desc, id
    asc), the top `limit` when set."""
    weights = weights or {}
    terms: dict = {}
    for name, rows in lanes.items():
        ranked = sorted(rows, key=lambda r: (-round(r[1], 6), r[0]))
        for rank, (i, _s) in enumerate(ranked[:lane_limit], start=1):
            terms.setdefault(i, []).append(weights.get(name, 1.0) / (rrf_k + rank))
    fused = sorted(
        ((i, round(math.fsum(t), 6)) for i, t in terms.items()),
        key=lambda r: (-r[1], r[0]),
    )
    return [(i, s, rank) for rank, (i, s) in enumerate(fused[:limit], start=1)]


@pytest.fixture(scope="session")
def rrf_reference():
    """The plain-Python RRF every fusion test checks the operators
    against."""
    return _rrf_reference


def _round6(x):
    # Spark's round(double, 6): HALF_UP on the shortest decimal repr
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _bfs_reference(edges, seeds, hops=2, decay=0.5, visible=None, bidirectional=False):
    """Plain-Python grouped BFS (recall.rs:479-555 graph lane).

    edges: [(src, dst)]; seeds: [(group, id)]. Each group walks from
    its own seeds with a seen-set, so a node's hop is its first visit
    and seeds are hop 0. With `visible` (a set of ids) a node outside
    it neither surfaces nor bridges; seeds stay. `bidirectional` also
    walks every edge dst -> src. -> {(group, id, hop,
    round(decay**hop, 6))}."""
    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        if bidirectional:
            adj.setdefault(d, set()).add(s)
    out = set()
    for g in {g for g, _ in seeds}:
        seen = {i: 0 for gg, i in seeds if gg == g}
        frontier = set(seen)
        for hop in range(1, hops + 1):
            frontier = {
                d
                for n in frontier
                for d in adj.get(n, ())
                if d not in seen and (visible is None or d in visible)
            }
            seen.update((d, hop) for d in frontier)
        out |= {(g, i, hop, _round6(decay**hop)) for i, hop in seen.items()}
    return out


@pytest.fixture(scope="session")
def bfs_reference():
    """The plain-Python BFS every graph walk is checked against."""
    return _bfs_reference


def _bm25_reference(docs, query_terms, k1=1.2, b=0.75):
    """Plain-Python BM25 (Robertson-Spärck Jones idf, as in Tantivy).

    docs: [(id, text)], tokenised like functions.text.tokens. Each
    distinct query term t adds idf(t) * tf*(k1+1) / (tf + k1*(1 - b +
    b*|d|/avgdl)) with idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5));
    token-less docs count in N and avgdl. -> {id: round(score, 6)},
    only for docs that contain a query term."""
    toks = {i: re.findall(TOKEN_PATTERN, (text or "").lower()) for i, text in docs}
    if not toks:
        return {}
    n = len(toks)
    avgdl = math.fsum(len(t) for t in toks.values()) / n
    terms = set(query_terms)
    df = {t: sum(t in tk for tk in toks.values()) for t in terms}
    out = {}
    for i, tk in toks.items():
        parts = [
            math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            * tk.count(t) * (k1 + 1)
            / (tk.count(t) + k1 * (1 - b + b * len(tk) / avgdl))
            for t in terms
            if t in tk
        ]
        if parts:
            out[i] = _round6(math.fsum(parts))
    return out


@pytest.fixture(scope="session")
def bm25_reference():
    """The plain-Python BM25 every lexical scorer is checked against."""
    return _bm25_reference


@pytest.fixture(scope="module")
def grouped_lanes(spark, sf_dir):
    """Per-query grouped lanes + one query-independent prior, built
    from the batch per-doc stats frame (the recall_batch_docs shape)."""
    docs = load_table(spark, sf_dir, "documents")
    qids = spark.createDataFrame([("q1",), ("q2",), ("q3",)], "query_id string")
    # deterministic synthetic per-(query, doc) scores: cheap, covers
    # ties and per-query rank divergence
    base = docs.select(
        "doc_id", "source", F.col("n_chars").cast("double").alias("len_score")
    )
    grouped = base.crossJoin(F.broadcast(qids)).select(
        "query_id",
        "doc_id",
        "source",
        F.round(
            F.pmod(
                F.xxhash64("doc_id", "query_id").cast("double"), F.lit(997.0)
            )
            / 997.0,
            6,
        ).alias("score"),
    )
    return {
        "lex": grouped.filter(F.col("score") > 0.25),
        "sem": grouped.filter(F.col("score") < 0.75).withColumn(
            "score", F.round(1.0 - F.col("score"), 6)
        ),
        "length": base.select(
            "doc_id", "source", F.col("len_score").alias("score")
        ),
    }, qids
