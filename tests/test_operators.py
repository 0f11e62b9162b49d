"""Operator-level unit tests (reference test model: SURVEY.md §5 —
RRF math, decay monotonicity, chain verification catching mutations,
deterministic tiebreaks)."""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mnemo_spark.functions.similarity import cosine
from mnemo_spark.functions.text import shingles, token_estimate, tokens
from mnemo_spark.operators.chain import assign_chain, chain_heads, verify_chain
from mnemo_spark.operators.rrf import rrf_fuse, rrf_fuse_grouped
from mnemo_spark.operators.window_ops import (
    evidence_budget_prefix,
    sessionize,
    token_budget_pack,
)


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([("Hello, World! 42 foo bar",)], ["text"])
    row = df.select(
        tokens("text").alias("t"), shingles(tokens("text"), 3).alias("s")
    ).first()
    assert row["t"] == ["hello", "world", "42", "foo", "bar"]
    assert row["s"] == ["hello world 42", "world 42 foo", "42 foo bar"]
    short = spark.createDataFrame([("one two",)], ["text"])
    assert short.select(shingles(tokens("text"), 3).alias("s")).first()["s"] == []


def test_token_estimate(spark):
    df = spark.createDataFrame([("abcde",), ("",)], ["text"])
    vals = [r[0] for r in df.select(token_estimate("text")).collect()]
    assert vals == [2, 0]


def test_cosine_identity_and_orthogonal(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])], ["a", "b"]
    )
    vals = [r[0] for r in df.select(cosine(F.col("a"), F.col("b"))).collect()]
    assert vals[0] == pytest.approx(1.0)
    assert vals[1] == pytest.approx(0.0)


def test_rrf_fusion_math(spark):
    """RRF: doc ranked 1st in both lanes scores 2/(k+1) (reference
    query/retrieval.rs:48-132 unit tests)."""
    lane1 = spark.createDataFrame([(1, 10.0), (2, 5.0)], ["doc_id", "score"])
    lane2 = spark.createDataFrame([(1, 3.0), (3, 2.0)], ["doc_id", "score"])
    out = rrf_fuse({"a": lane1, "b": lane2}, rrf_k=60).collect()
    by_id = {r["doc_id"]: r["rrf_score"] for r in out}
    assert by_id[1] == pytest.approx(2 / 61, abs=1e-6)
    assert by_id[2] == pytest.approx(1 / 62, abs=1e-6)
    assert out[0]["doc_id"] == 1  # best fused rank


def test_rrf_weighted(spark):
    lane1 = spark.createDataFrame([(1, 10.0)], ["doc_id", "score"])
    lane2 = spark.createDataFrame([(2, 10.0)], ["doc_id", "score"])
    out = rrf_fuse({"a": lane1, "b": lane2}, weights={"a": 6.0, "b": 1.0}, rrf_k=30)
    rows = {r["doc_id"]: r["rrf_score"] for r in out.collect()}
    assert rows[1] == pytest.approx(6 / 31, abs=1e-6)
    assert rows[2] == pytest.approx(1 / 31, abs=1e-6)


RRF_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# tie-prone lane scores: None = the doc is not in the lane; 1.0000004
# rounds to 1.0 at 6 dp, so it ties with 1.0 and the id breaks the tie.
# None is one value in six, so most lanes run longer than lane_limit
_lane_score = st.sampled_from([None, 0.25, 1.0, 1.0000004, 2.5, 7.0])


@given(
    docs=st.lists(st.tuples(*[_lane_score] * 5), min_size=1, max_size=12),
    lane_limit=st.one_of(st.none(), st.integers(min_value=1, max_value=8)),
    limit=st.one_of(st.none(), st.integers(min_value=1, max_value=6)),
)
@RRF_SETTINGS
def test_rrf_matches_reference(spark, rrf_reference, docs, lane_limit, limit):
    """rrf_fuse and every form of rrf_fuse_grouped fuse exactly like
    the plain-Python reference: two grouped lanes `a`/`b` per query
    plus a query-independent prior `c`, with null lane membership,
    6-dp score ties, lane_limit None or 1-8 and an optional limit.
    The grouped forms are (1) a lanes dict with `groups` as a
    distributed DataFrame (broadcast-join replication of `c`) and (2)
    a pre-melted `tagged` frame with a `source` carry column and
    `groups` as a literal list."""
    w = {"a": 6.0, "b": 3.0}  # `c` weighs the default 1.0
    qids = ["q1", "q2"]
    # docs[i] = (a@q1, b@q1, a@q2, b@q2, c)
    lane_rows = {
        (q, lane): [(i, d[col]) for i, d in enumerate(docs) if d[col] is not None]
        for col, (q, lane) in enumerate(
            [("q1", "a"), ("q1", "b"), ("q2", "a"), ("q2", "b")]
        )
    }
    prior = [(i, d[4]) for i, d in enumerate(docs) if d[4] is not None]
    want = {
        q: rrf_reference(
            {"a": lane_rows[q, "a"], "b": lane_rows[q, "b"], "c": prior},
            w, rrf_k=30, lane_limit=lane_limit, limit=limit,
        )
        for q in qids
    }

    def src(i):
        return f"s{i % 3}"

    prior_df = spark.createDataFrame(
        [(i, src(i), s) for i, s in prior], "doc_id int, source string, score double"
    )
    long = spark.createDataFrame(
        [(q, i, src(i), lane, s) for (q, lane), rows in lane_rows.items() for i, s in rows],
        "query_id string, doc_id int, source string, lane string, score double",
    )

    # the one-query form
    q1 = {
        "a": long.filter("query_id = 'q1' AND lane = 'a'"),
        "b": long.filter("query_id = 'q1' AND lane = 'b'"),
        "c": prior_df,
    }
    got = rrf_fuse(q1, w, rrf_k=30, lane_limit=lane_limit, limit=limit)
    assert sorted(tuple(r) for r in got.collect()) == sorted(want["q1"])

    def expected(with_source):
        rows = set()
        for q in qids:
            for i, score, rank in want[q]:
                row = (q, i, score) + ((rank,) if limit is not None else ())
                rows.add(row + ((src(i),) if with_source else ()))
        return rows

    cols = ["query_id", "doc_id", "rrf_score"] + (["rank"] if limit is not None else [])
    kw = dict(rrf_k=30, lane_limit=lane_limit, limit=limit)

    # lanes dict; groups as a distributed (non-LocalRelation) frame
    groups_df = spark.range(1, 3).select(
        F.concat(F.lit("q"), F.col("id").cast("string")).alias("query_id")
    )
    by_dict = rrf_fuse_grouped(
        {
            "a": long.filter("lane = 'a'").select("query_id", "doc_id", "score"),
            "b": long.filter("lane = 'b'").select("query_id", "doc_id", "score"),
            "c": prior_df.select("doc_id", "score"),
        },
        w, groups=groups_df, **kw,
    )
    assert {tuple(r[c] for c in cols) for r in by_dict.collect()} == expected(False)

    # tagged + carry_cols; groups as literal ids
    by_tagged = rrf_fuse_grouped(
        {"c": prior_df}, w, groups=qids, tagged=long, lane_col="lane",
        carry_cols=("source",), **kw,
    )
    got_t = {tuple(r[c] for c in cols + ["source"]) for r in by_tagged.collect()}
    assert got_t == expected(True)


# query terms: corpus words, an absent word, and an upper-case word
# that never matches (the corpus tokens are lower-cased)
_bm25_term = st.sampled_from(["spark", "join", "window", "query", "absent", "Spark"])
# doc words: upper case and punctuation tokenise to the corpus words;
# a null text, an empty word list or a lone "?!" makes a token-less doc
_bm25_text = st.lists(
    st.sampled_from(["spark", "Spark,", "JOIN", "join.", "window", "query?", "plan", "x1", "?!"]),
    max_size=8,
).map(" ".join)


@given(
    texts=st.lists(st.one_of(st.none(), _bm25_text), max_size=8),
    queries=st.lists(
        st.tuples(st.sampled_from(["q1", "q2", "q3"]), st.lists(_bm25_term, max_size=4)),
        min_size=1,
        max_size=4,
    ),
)
@RRF_SETTINGS
def test_bm25_matches_reference(spark, bm25_reference, monkeypatch, texts, queries):
    """batch_bm25 (wide form and term-join form, forced by
    WIDE_MAX_QUERIES), bm25_score and the recall core's bm25 column all
    score like the plain-Python reference: rows only for docs holding a
    query term, duplicate query ids union their terms, duplicate and
    absent terms, empty term lists, token-less and null-text docs and
    an empty corpus."""
    from mnemo_spark import params as P
    from mnemo_spark.io import local_relation
    from mnemo_spark.operators import bm25 as B
    from mnemo_spark.operators.recall_core import perdoc_stats, scored_from_perdoc

    rows = list(enumerate(texts))
    # driver-side LocalRelations: no Python-worker tasks per scan
    docs = local_relation(
        spark,
        [(i, t, len(t or ""), "s") for i, t in rows],
        "doc_id long, text string, n_chars int, source string",
    )
    qdf = local_relation(spark, queries, "query_id string, terms array<string>")
    merged: dict = {}
    for qid, terms in queries:
        merged.setdefault(qid, []).extend(terms)
    want = {
        (qid, i, s)
        for qid, terms in merged.items()
        for i, s in bm25_reference(rows, terms).items()
    }
    first = queries[0][1]
    for wide_max in (8, 0):  # 8: the wide form; 0: the term-join form
        monkeypatch.setattr(B, "WIDE_MAX_QUERIES", wide_max)
        assert {tuple(r) for r in B.batch_bm25(docs, qdf).collect()} == want
        got = {tuple(r) for r in B.bm25_score(docs, first).collect()}
        assert got == set(bm25_reference(rows, first).items())

    core = scored_from_perdoc(perdoc_stats(docs)).filter("bm25 IS NOT NULL")
    assert {(r["doc_id"], r["bm25"]) for r in core.collect()} == set(
        bm25_reference(rows, P.BM25_QUERY_TERMS, P.BM25_K1, P.BM25_B).items()
    )


_node = st.integers(min_value=0, max_value=11)


@given(
    edges=st.lists(st.tuples(_node, _node), max_size=24),
    seeds=st.lists(
        st.tuples(st.sampled_from(["g1", "g2", "g3"]), _node), min_size=1, max_size=5
    ),
    visible=st.frozensets(_node),
    hops=st.integers(min_value=0, max_value=4),
)
@RRF_SETTINGS
def test_expand_matches_bfs_reference(spark, bfs_reference, edges, seeds, visible, hops):
    """expand and expand_grouped walk like the plain-Python BFS on
    graphs of ≤12 nodes with cycles, self-loops and duplicate edges,
    1-3 groups and 0-4 hops, for every combination of dedup_per_hop ×
    broadcast_edges × bidirectional × visible. `expand` is checked on
    the first group's seeds (it takes no `visible`)."""
    import itertools

    from mnemo_spark.io import local_relation
    from mnemo_spark.operators.graph import expand, expand_grouped

    edf = local_relation(spark, edges, "src long, dst long")
    sdf = local_relation(spark, seeds, "g string, id long")
    vdf = local_relation(spark, [(v,) for v in visible], "id long")
    g0 = seeds[0][0]
    mine = [s for s in seeds if s[0] == g0]
    one = sdf.filter(F.col("g") == g0).select("id")
    # every combination's rows, tagged, in one union: one collect per
    # example instead of 24
    got, want = [], set()
    for n, (dedup, bcast, bidir) in enumerate(itertools.product([True, False], repeat=3)):
        kw = dict(
            hops=hops, dedup_per_hop=dedup, broadcast_edges=bcast, bidirectional=bidir
        )
        for vis in (None, visible):
            tag = f"{n}:{vis is None}"
            got.append(
                expand_grouped(
                    edf, sdf, group_col="g", visible=None if vis is None else vdf, **kw
                ).select(F.lit(tag).alias("tag"), "*")
            )
            want |= {(tag, *r) for r in bfs_reference(edges, seeds, hops, 0.5, vis, bidir)}
        tag = f"{n}:expand"
        got.append(expand(edf, one, **kw).select(F.lit(tag).alias("tag"), F.lit(g0), "*"))
        want |= {(tag, *r) for r in bfs_reference(edges, mine, hops, 0.5, None, bidir)}
    union = got[0]
    for df in got[1:]:
        union = union.unionAll(df)
    assert {tuple(r) for r in union.collect()} == want


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_rrf_grouped_tagged_carry_equiv(grouped_lanes):
    """The tagged-melt + carry_cols form (recall_batch_docs' shape)
    must equal the lanes-dict form with a corpus join-back."""
    lanes, qids = grouped_lanes
    tagged = lanes["lex"].select(
        "query_id", "doc_id", "source", F.lit("lex").alias("lane"), "score"
    ).unionByName(
        lanes["sem"].select(
            "query_id", "doc_id", "source", F.lit("sem").alias("lane"), "score"
        )
    )
    w = {"lex": 3.0, "sem": 6.0, "length": 1.0}
    kw = dict(
        group_col="query_id", id_col="doc_id", lane_limit=25, limit=10,
        groups=qids,
    )
    # literal group ids exercise the exploded-literal replication path
    kw_lit = dict(kw, groups=["q1", "q2", "q3"])
    via_tagged = rrf_fuse_grouped(
        {"length": lanes["length"]},
        w,
        60,
        tagged=tagged,
        lane_col="lane",
        carry_cols=("source",),
        **kw_lit,
    )
    via_dict = rrf_fuse_grouped(
        {k: v.drop("source") for k, v in lanes.items()}, w, 60, **kw
    )
    cols = ["query_id", "doc_id", "rrf_score", "rank"]
    assert _rows(via_tagged, cols) == _rows(via_dict, cols)
    # the carry column matches the source of record
    src = {r["doc_id"]: r["source"] for r in lanes["length"].collect()}
    for r in via_tagged.collect():
        assert r["source"] == src[r["doc_id"]]


def _chain_df(spark):
    rows = [
        ("a", 1, "h1"),
        ("a", 2, "h2"),
        ("a", 3, "h3"),
        ("b", 1, "x1"),
    ]
    return spark.createDataFrame(rows, ["agent", "seq", "h"])


def test_assign_chain_sequential_fold(spark):
    out = assign_chain(_chain_df(spark), ["agent"], ["seq"], "h")
    rows = {(r["agent"], r["seq"]): r for r in out.collect()}
    assert rows[("a", 1)]["prev_hash"] == ""
    link1 = hashlib.sha256(b"h1").hexdigest()
    assert rows[("a", 1)]["chain_hash"] == link1
    assert rows[("a", 2)]["prev_hash"] == link1
    link2 = hashlib.sha256(("h2" + link1).encode()).hexdigest()
    assert rows[("a", 2)]["chain_hash"] == link2
    assert rows[("b", 1)]["chain_hash"] == hashlib.sha256(b"x1").hexdigest()


def test_chain_heads_matches_assign_chain(spark):
    """The aggregate fold and the sequential fold agree on the head."""
    assigned = assign_chain(_chain_df(spark), ["agent"], ["seq"], "h")
    last = assigned.filter((F.col("agent") == "a") & (F.col("seq") == 3)).first()
    heads = {r["agent"]: r["chain_head"] for r in
             chain_heads(_chain_df(spark), ["agent"], ["seq"], "h").collect()}
    assert heads["a"] == last["chain_hash"]
    assert heads["b"] == hashlib.sha256(b"x1").hexdigest()


def test_verify_chain_detects_tamper(spark):
    """Audit-tamper conformance (reference: 100% single-byte mutation
    detection, bench/audit_tamper)."""
    assigned = assign_chain(_chain_df(spark), ["agent"], ["seq"], "h")
    clean = verify_chain(
        assigned.withColumnRenamed("h", "content_hash"),
        ["agent"],
        ["seq"],
    )
    assert all(r["n_breaks"] == 0 for r in clean.collect())

    tampered = assigned.withColumn(
        "h", F.when((F.col("agent") == "a") & (F.col("seq") == 2), "EVIL").otherwise(F.col("h"))
    )
    bad = verify_chain(
        tampered.withColumnRenamed("h", "content_hash"), ["agent"], ["seq"]
    ).filter(F.col("agent") == "a").first()
    assert bad["n_breaks"] >= 1
    assert bad["first_break_at"]["seq"] == 2


def test_fold_partitions_groups_span_arrow_batches(spark):
    """The partition-stream fold (io.fold_partitions) must produce
    byte-identical chains when a group spans multiple Arrow batches:
    force 7-row batches against 40-row groups and compare with the
    same fold run group-at-a-time."""
    rows = [
        (f"agent-{i % 3}", i, f"h{i:04d}")
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "agent string, seq long, h string")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = {
            (r["agent"], r["seq"]): (r["prev_hash"], r["chain_hash"])
            for r in assign_chain(df, ["agent"], ["seq"], "h").collect()
        }
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # driver-side reference fold
    prev: dict = {}
    for agent, seq, h in sorted(rows):
        p = prev.get(agent, "")
        link = hashlib.sha256((h + p).encode()).hexdigest()
        assert got[(agent, seq)] == (p, link), (agent, seq)
        prev[agent] = link


def test_evidence_budget_is_prefix(spark):
    """W8 invariant: selection is a prefix of the ranking, never a
    reorder (reference query/evidence.rs property test)."""
    rows = [(i, 0.5) for i in range(1, 11)]
    df = spark.createDataFrame(rows, ["rank", "suff"])
    out = evidence_budget_prefix(df, "suff", bar=1.5, max_evidence=10)
    kept = sorted(r["rank"] for r in out.collect())
    assert kept == [1, 2, 3]  # cum_before: 0, .5, 1.0 < 1.5; rank4 has 1.5

    capped = evidence_budget_prefix(df, "suff", bar=100.0, max_evidence=4)
    assert sorted(r["rank"] for r in capped.collect()) == [1, 2, 3, 4]


def test_token_budget_pack_prefix(spark):
    df = spark.createDataFrame([(1, 100), (2, 200), (3, 150)], ["rank", "cost"])
    out = token_budget_pack(df, "cost", budget=320)
    assert sorted(r["rank"] for r in out.collect()) == [1, 2]


def test_sessionize_gap(spark):
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 0, 0)),
        (1, datetime(2024, 1, 1, 0, 10)),
        (1, datetime(2024, 1, 1, 2, 0)),
        (2, datetime(2024, 1, 1, 0, 0)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = sessionize(df, "user_id", "ts", gap_minutes=30)
    sess = {(r["user_id"], r["ts"].minute, r["ts"].hour): r["session_id"] for r in out.collect()}
    assert sess[(1, 0, 0)] == 1
    assert sess[(1, 10, 0)] == 1
    assert sess[(1, 0, 2)] == 2
    assert sess[(2, 0, 0)] == 1


def test_evidence_scorers_cosine_and_delta(spark):
    """U2 pluggable evidence scorers (query/evidence.rs:158-260):
    cosine default with retrieval-score fallback; delta novelty stub
    gives redundant candidates ~0 so the budget shows diminishing
    returns."""
    from mnemo_spark.operators.evidence import cosine_scorer, delta_novelty_scores
    from mnemo_spark.operators.window_ops import evidence_budget_prefix
    from pyspark.sql import functions as F

    ranked = spark.createDataFrame(
        [
            (1, 1, "alpha beta gamma delta", [1.0, 0.0], 0.9),
            (2, 2, "alpha beta gamma delta", [0.6, 0.8], 0.8),  # redundant
            (3, 3, "epsilon zeta fresh words", [0.0, 1.0], 0.7),
            (4, 4, "", None, 0.6),  # degenerate embedding
        ],
        "id int, rank int, content string, embedding array<double>, score double",
    )
    qvec = F.array(F.lit(1.0), F.lit(0.0))
    scored = ranked.withColumn(
        "cos_suff", cosine_scorer(F.col("embedding"), qvec, F.col("score"))
    )
    got = {r.id: round(r.cos_suff, 4) for r in scored.collect()}
    assert got[1] == 1.0  # aligned
    assert got[2] == 0.6  # cosine 0.6
    assert got[4] == 0.6  # NULL embedding -> retrieval-score fallback
    assert got[3] == 0.7  # orthogonal (sim 0 not > 0) -> fallback

    delta = delta_novelty_scores(ranked)
    dv = {r.id: round(r.sufficiency, 4) for r in delta.collect()}
    assert dv[1] == 0.9  # all tokens novel * 0.9
    assert dv[2] == 0.0  # fully redundant
    assert dv[3] == 0.7  # fresh again
    assert dv[4] == 0.0  # empty content

    # the budget consumes either scorer's column: with delta scores
    # and bar 1.0, the redundant candidate passes through (cum before
    # it is 0.9 < 1.0) but contributes nothing to the cumulative sum,
    # so candidate 3 still enters before the bar trips
    kept = evidence_budget_prefix(delta, "sufficiency", 1.0, 10)
    assert {r.id for r in kept.collect()} == {1, 2, 3}


def test_connected_components_star_matches_label(spark):
    """Star CC and label-propagation CC agree on a mixed graph
    (two cliques, a path, a self-pair, an isolated pair)."""
    from mnemo_spark.operators.consolidate import connected_components

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (1, 3),          # clique {1,2,3}
            (10, 11), (11, 12),              # path {10,11,12}
            (20, 20),                        # self-pair
            (30, 31),                        # isolated pair
        ],
        "id_a int, id_b int",
    )
    expected = {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10, 12: 10,
        20: 20,
        30: 30, 31: 30,
    }
    for method in ("label", "star"):
        got = {
            r.node: r.cluster
            for r in connected_components(pairs, method=method).collect()
        }
        assert got == expected, method


def test_connected_components_star_long_chain_olog_rounds(spark):
    """A chain of diameter 63 converges for the star variant well
    inside O(log n) rounds (label propagation would need 63)."""
    from mnemo_spark.operators.consolidate import _connected_components_star

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a int, id_b int"
    )
    # 2·log2(64) + slack = 14 rounds is plenty; label-prop would need 63
    labels = _connected_components_star(pairs, max_iter=14)
    got = {r.node: r.cluster for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}


def test_pq_matches_independent_reference(spark, sf_dir):
    """pq_encode/pq_topk against a from-scratch numpy reimplementation
    (normalize → per-subspace argmin → ADC table gather) — independent
    of the operator's own einsum formulation, so a formula slip in
    either shows up as a mismatch."""
    import numpy as np
    from pyspark.sql import functions as F

    from mnemo_spark import params as P
    from mnemo_spark.io import load_table
    from mnemo_spark.operators.pq import pq_encode, pq_topk, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=P.PQ_M, ksub=P.PQ_KSUB)

    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    V = np.asarray([list(r.embedding) for r in rows], dtype=np.float64)
    ids = np.asarray([r.vec_id for r in rows])
    norms = np.sqrt((V * V).sum(axis=1, keepdims=True))
    U = np.where(norms > 0, V / np.where(norms == 0, 1, norms), 0.0)
    m, ksub, dsub = books.shape

    # reference encode: explicit per-row, per-subspace argmin
    def ref_code(u):
        return [
            int(
                np.argmin(
                    [((u[i * dsub:(i + 1) * dsub] - books[i, c]) ** 2).sum()
                     for c in range(ksub)]
                )
            )
            for i in range(m)
        ]

    ref_codes = {int(i): ref_code(u) for i, u in zip(ids, U)}
    got_codes = {
        r.vec_id: r.codes for r in pq_encode(emb, books).collect()
    }
    assert got_codes == ref_codes

    # reference ADC top-k for one query
    qid = P.VECTOR_QUERY_IDS[0]
    q = U[ids == qid][0]
    T = np.array(
        [[((q[i * dsub:(i + 1) * dsub] - books[i, c]) ** 2).sum()
          for c in range(ksub)] for i in range(m)]
    )
    scored = sorted(
        (round(sum(T[i, c] for i, c in enumerate(ref_codes[int(v)])), 6), int(v))
        for v in ids[(norms[:, 0] > 0)]
    )[: P.VECTOR_TOPK]
    queries = emb.filter(F.col("vec_id") == qid).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = [
        (r.adc_dist, r.vec_id)
        for r in pq_topk(emb, queries, books, k=P.VECTOR_TOPK)
        .orderBy("rank")
        .collect()
    ]
    assert [(round(d, 6), v) for d, v in scored] == got


def test_trace_causality_both_direction(spark):
    """TraceDirection::Both (causality.rs:12-18): union of the up and
    down walks, deduplicated by event id at min depth."""
    from mnemo_spark.operators.graph import trace_causality

    events = spark.createDataFrame(
        [(1, None), (2, 1), (3, 2), (4, 3), (5, None)],
        "id long, parent_event_id long",
    )
    roots = spark.createDataFrame([(3,)], "id long")
    got = {
        r["id"]: r["depth"]
        for r in trace_causality(events, roots, max_depth=3,
                                 direction="both").collect()
    }
    assert got == {3: 0, 2: 1, 1: 2, 4: 1}


def test_global_cumsum_matches_single_partition_window(spark):
    """global_cumsum (the distributed prefix sum) must equal the
    naive single-partition running sum on the same total order —
    including cross-partition offset handoff (forced 4-way range
    partitioning over 40 rows) and the grand-total carry."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from mnemo_spark.operators.window_ops import global_cumsum

    rows = [(i, float((i * 37) % 100) + 0.25) for i in range(40)]
    df = spark.createDataFrame(rows, "k int, v double")
    got = {
        r["k"]: (r["cum"], r["tot"])
        for r in global_cumsum(
            df, [F.desc("v"), F.asc("k")], "v", "cum",
            total_col="tot", num_partitions=4,
        ).collect()
    }
    w = (
        Window.partitionBy(F.lit(0))
        .orderBy(F.desc("v"), F.asc("k"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        r["k"]: r["cum"]
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    total = sum(v for _, v in rows)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k][0] - want[k]) < 1e-9, k
        assert abs(got[k][1] - total) < 1e-9, k


def test_global_cumsum_single_row_and_empty(spark):
    import pyspark.sql.functions as F

    from mnemo_spark.operators.window_ops import global_cumsum

    one = spark.createDataFrame([(1, 5.0)], "k int, v double")
    r = global_cumsum(one, [F.asc("k")], "v", "cum", total_col="tot",
                      num_partitions=4).collect()
    assert [(x["cum"], x["tot"]) for x in r] == [(5.0, 5.0)]
    empty = spark.createDataFrame([], "k int, v double")
    assert global_cumsum(empty, [F.asc("k")], "v", "cum",
                         num_partitions=4).count() == 0


def test_global_cumsum_ntile_serving_pin_is_tracked_and_released(spark):
    """ADVICE r7 leak posture, CORRECTED in r8: the range pin must
    stay alive for the plan's whole lifetime (the sf1x sweep proved an
    early release lets the re-executed range exchange assign rows to
    different slices than their offsets — wrong cumsums at scale). So
    the leak fix is scoping, not early release: in serving/bench mode
    the pin goes through the TRACKED cache and cache.clear() frees
    it; in one-shot mode CacheManager dedups the persist by plan, so
    retention is bounded by distinct inputs."""
    import os

    import pyspark.sql.functions as F

    from mnemo_spark import cache
    from mnemo_spark.operators.window_ops import global_cumsum, global_ntile

    df = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(50)], "k int, v double"
    )
    os.environ["MNEMO_CACHE_TABLES"] = "1"
    try:
        app_id = spark.sparkContext.applicationId
        n_before = len(cache._session(app_id).pins)
        out = global_cumsum(df, [F.asc("k")], "v", "cum", num_partitions=4)
        out = global_ntile(out, [F.desc("cum"), F.asc("k")], 3, "t",
                           num_partitions=4)
        assert out.count() == 50
        # both pins registered in the tracked cache...
        assert len(cache._session(app_id).pins) >= n_before + 2
    finally:
        os.environ.pop("MNEMO_CACHE_TABLES", None)
        cache.clear()
    # ...and clear() released them
    assert len(cache._session(app_id).pins) == 0


def test_global_ntile_matches_builtin_ntile(spark):
    """global_ntile's closed-form tile rule must equal the built-in
    single-partition ntile for sizes that do and don't divide evenly,
    across forced multi-partition range slices."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from mnemo_spark.operators.window_ops import global_ntile

    for n_rows in (10, 11, 23, 40):
        rows = [(i, float((i * 13) % 37)) for i in range(n_rows)]
        df = spark.createDataFrame(rows, "k int, v double")
        got = {
            r["k"]: r["t"]
            for r in global_ntile(
                df, [F.desc("v"), F.asc("k")], 5, "t", num_partitions=4
            ).collect()
        }
        w = Window.partitionBy(F.lit(0)).orderBy(F.desc("v"), F.asc("k"))
        want = {
            r["k"]: r["t"]
            for r in df.withColumn("t", F.ntile(5).over(w)).collect()
        }
        assert got == want, n_rows
