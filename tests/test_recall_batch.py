"""recall_batch — the batch-of-queries recall verb and the engine's
only retrieval path (SURVEY §6 "the engine batches queries"; the
reference serves one recall per request, recall.rs:332). `recall` is
recall_batch over a one-row query frame, so these tests pin expected
rows per strategy and policy knob, that a query's rows do not depend
on the other queries in its batch, and the permission-safe-ANN
property of integration_test.rs:2130."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from mnemo_spark.engine import MnemoSparkEngine

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)
NOW = T0 + dt.timedelta(hours=3)

_ROW_SCHEMA = (
    "id string, agent_id string, content string, memory_type string, "
    "scope string, importance float, tags array<string>, created_at timestamp, "
    "metadata string"
)

_PROV = json.dumps({"reasoning_provenance": {"authorship": "model_authored"}})
_FORGED = json.dumps({"reasoning_provenance": {"authorship": "injected"}})


@pytest.fixture(scope="module")
def engine(spark):
    rows = spark.createDataFrame(
        [
            ("m1", "alice", "the capital of france is paris", "semantic",
             "private", 0.9, ["geo"], T0, _PROV),
            ("m2", "alice", "paris has a big tower", "episodic", "private",
             0.5, ["geo"], T0 + dt.timedelta(hours=1), _FORGED),
            ("m3", "alice", "spark joins shuffle on keys", "semantic",
             "private", 0.8, ["code"], T0 + dt.timedelta(hours=2), _PROV),
            ("m4", "bob", "publicly known spark fact", "semantic", "public",
             0.6, ["code"], T0 + dt.timedelta(minutes=30), _PROV),
            ("m5", "bob", "bob private paris note", "semantic", "private",
             0.4, [], T0, None),
            ("m6", "alice", "window functions rank rows", "semantic",
             "private", 0.7, ["code"], T0 + dt.timedelta(hours=1), None),
        ],
        _ROW_SCHEMA,
    )
    # materialized once (r14): all tests read this store; truncating
    # the write-path lineage keeps each recall action O(the recall)
    return MnemoSparkEngine(spark).remember_batch(rows).materialized()


def _qdf(spark, queries):
    return spark.createDataFrame(
        [(f"q{i}", q) for i, q in enumerate(queries)],
        "query_id string, query string",
    )


def _rows(df, drop=("query_id",)):
    cols = [c for c in df.columns if c not in drop]
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _edges(spark):
    # memory-graph relations: m1-m2 linked (both paris), m3-m6 linked
    # (both code), m4 reachable only from m3, m5 dangling private
    return spark.createDataFrame(
        [("m1", "m2"), ("m3", "m6"), ("m6", "m4"), ("m5", "m2")],
        "src_id string, dst_id string",
    )


def _ranked(df):
    return [
        (r["id"], r["rank"], r["score"])
        for r in sorted(df.collect(), key=lambda r: r["rank"])
    ]


# alice's recall at NOW → expected (id, rank, score). alice sees her
# own m1/m2/m3/m6 and bob's public m4. Scores: BM25 (lexical),
# hash-bag cosine (semantic), weighted RRF with rrf_k=30 (hybrid:
# semantic 6, lexical 3, recency 1; graph: vector 1, graph 1). E.g.
# hybrid m2 = 6/31 + 3/31 + 1/32 (ranks 1, 1 and 2 in the lanes);
# under domain_scope {geo} + down_weight 0.2, m1 = 6/32 + 3/32 + 1/32
# and the forged-provenance m2 = 0.2 x 10/31.
_HYBRID = [
    ("m2", 1, 0.321573),
    ("m1", 2, 0.309821),
    ("m3", 3, 0.214076),
    ("m4", 4, 0.205882),
    ("m6", 5, 0.201732),
]
_SEMANTIC = [
    ("m2", 1, 0.632456),
    ("m1", 2, 0.25),
    ("m3", 3, 0.0),
    ("m4", 4, 0.0),
    ("m6", 5, 0.0),
]
EXPECTED = {
    "exact": ("paris has a big tower", {"strategy": "exact"}, [("m2", 1, 1.0)]),
    "lexical": (
        "paris tower",
        {"strategy": "lexical"},
        [("m2", 1, 2.223856), ("m1", 2, 0.79424)],
    ),
    "semantic": ("paris tower", {"strategy": "semantic"}, _SEMANTIC),
    "domain_scoped_alias": (
        "paris tower", {"strategy": "domain_scoped"}, _SEMANTIC,
    ),
    "hybrid": ("paris tower", {"strategy": "hybrid"}, _HYBRID),
    "auto_alias": ("paris tower", {"strategy": "auto"}, _HYBRID),
    "hybrid_full_lane": (
        "paris tower", {"strategy": "hybrid", "lane_limit": None}, _HYBRID,
    ),
    "hybrid_scope_down_weight": (
        "paris tower",
        {
            "strategy": "hybrid",
            "domain_scope": {"tags": ["geo"]},
            "reasoning_trust": {
                "action": "down_weight", "down_weight_factor": 0.2,
            },
        },
        [("m1", 1, 0.3125), ("m2", 2, 0.064516)],
    ),
    "hybrid_quarantine": (
        "paris tower",
        {"strategy": "hybrid", "reasoning_trust": {"action": "quarantine"}},
        [("m1", 1, 0.320626), ("m3", 2, 0.219758), ("m4", 3, 0.213068)],
    ),
    "graph_paris": (
        "paris tower",
        {"strategy": "graph", "edges": True},
        [
            ("m1", 1, 0.063508),
            ("m2", 2, 0.063508),
            ("m3", 3, 0.060606),
            ("m4", 4, 0.058824),
            ("m6", 5, 0.057143),
        ],
    ),
    "graph_spark": (
        "spark join window",
        {"strategy": "graph", "edges": True},
        [
            ("m1", 1, 0.06167),
            ("m4", 2, 0.06167),
            ("m3", 3, 0.060606),
            ("m2", 4, 0.059821),
            ("m6", 5, 0.059821),
        ],
    ),
}


@pytest.mark.parametrize("case", sorted(EXPECTED))
def test_recall_expected_rows(engine, case):
    """Expected ids, ranks and scores per strategy and policy knob."""
    query, kw, want = EXPECTED[case]
    kw = dict(kw)
    if kw.get("edges"):
        kw["edges"] = _edges(engine.spark)
    assert _ranked(engine.recall(query, "alice", now=NOW, **kw)) == want


@pytest.mark.parametrize("strategy", ["lexical", "hybrid"])
def test_punctuated_query_matches_like_plain(engine, strategy):
    """The query is tokenised like the corpus (functions.text.tokens):
    case and punctuation do not change which memories match."""
    plain = _ranked(
        engine.recall("paris tower", "alice", strategy=strategy, now=NOW)
    )
    punct = _ranked(
        engine.recall("Paris, tower?", "alice", strategy=strategy, now=NOW)
    )
    assert plain and punct == plain


def test_multi_query_batch_equals_per_query_recall(engine):
    """Each query's slice of the batch result is exactly its
    single-query recall — queries cannot interfere."""
    queries = ["paris tower", "spark join window", "rank rows"]
    out = engine.recall_batch(
        _qdf(engine.spark, queries), "alice", strategy="hybrid", now=NOW
    )
    for i, q in enumerate(queries):
        got = _rows(out.filter(F.col("query_id") == f"q{i}"))
        want = _rows(engine.recall(q, "alice", strategy="hybrid", now=NOW),
                     drop=())
        assert got == want, q


def test_batch_is_permission_safe(engine):
    """integration_test.rs:2130: visibility filters run BEFORE scoring
    for every query in the batch — bob never sees alice's private rows
    no matter how well they score."""
    out = engine.recall_batch(
        _qdf(engine.spark, ["paris tower", "spark join"]),
        "bob",
        strategy="lexical",
        now=NOW,
    ).collect()
    assert out, "bob should still hit his own + public rows"
    assert all(r["agent_id"] == "bob" for r in out)


def test_batch_lane_limit_overfetch(engine):
    """lane_limit (the reference's limit*3 over-fetch, recall.rs:397)
    keeps per-query output shape: ranks 1..k, k rows max per query."""
    out = engine.recall_batch(
        _qdf(engine.spark, ["paris tower", "spark join"]),
        "alice",
        strategy="hybrid",
        k=2,
        lane_limit=3,
        now=NOW,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for qid, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid
        assert len(ranks) <= 2


def test_batch_graph_requires_edges(engine):
    with pytest.raises(ValueError, match="edges"):
        engine.recall_batch(
            _qdf(engine.spark, ["x"]), "alice", strategy="graph"
        ).collect()


def test_graph_recall_lazy_seed_lane_matches_localized(engine, monkeypatch):
    """localize_small(fallback=True) hands a too-large seed set back
    as the lazy frame: force that lane and the graph recall must not
    change."""
    e = _edges(engine.spark)
    queries = ["paris tower", "spark join window"]

    def run():
        return _rows(
            engine.recall_batch(
                _qdf(engine.spark, queries), "alice", strategy="graph",
                edges=e, now=NOW,
            ),
            drop=(),
        )

    localized = run()
    lazy_calls = []

    def keep_lazy(df, **kw):
        lazy_calls.append(kw.get("why"))
        return df

    monkeypatch.setattr("mnemo_spark.engine.localize_small", keep_lazy)
    assert run() == localized
    assert lazy_calls, "graph recall no longer localizes its seed set"


def test_multi_query_batch_graph_equals_per_query(engine):
    """Graph expansion batches without cross-query interference, and
    stays permission-safe: an edge into an invisible memory never
    surfaces it (expand semi-joins the filtered corpus per hop)."""
    e = _edges(engine.spark)
    queries = ["paris tower", "rank rows"]
    out = engine.recall_batch(
        _qdf(engine.spark, queries), "alice", strategy="graph",
        edges=e, now=NOW,
    )
    for i, q in enumerate(queries):
        got = _rows(out.filter(F.col("query_id") == f"q{i}"))
        want = _rows(
            engine.recall(q, "alice", strategy="graph", edges=e, now=NOW),
            drop=(),
        )
        assert got == want, q
    # permission safety: bob's batch never surfaces alice's private
    # m1/m2/m3/m6 even though edges point at them
    bout = engine.recall_batch(
        _qdf(engine.spark, ["paris", "spark"]), "bob", strategy="graph",
        edges=e, now=NOW,
    ).collect()
    assert bout and all(r["agent_id"] == "bob" for r in bout)
