"""The flagship `recall` query: the reference's hybrid retrieval
(SURVEY §3.1) re-expressed as one relational pipeline.

Reference path (recall.rs:332-737): candidate lanes (vector ANN,
BM25, recency) → weighted RRF fusion → trust-policy down-weighting →
sort + truncate. Here, over the documents corpus:

  lane 1  BM25 lexical relevance        (A6, replaces Tantivy)
  lane 2  sparse hash-bag cosine        (J6 over F5 embeddings —
          the deterministic-embedder semantic lane)
  lane 3  doc-length prior              (stands in for recency: the
          corpus has no timestamp column)
  fuse    weighted RRF, tuned weights   (A1, retrieval.rs:7-29)
  trust   ×0.1 for untrusted sources    (P4, retrieval.rs:232-420,
          fail-closed on unknown provenance)
  rank    score desc, id asc, limit     (W1)

Scale: each lane is one aggregation over the corpus; fusion is a
union + groupBy on doc_id; nothing is quadratic and no lane
materializes more than |corpus| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mnemo_spark import params as P
from mnemo_spark.io import local_frame, localize_small
from mnemo_spark.operators.bm25 import bm25_literal_scorer, bm25_score
from mnemo_spark.operators.recall_core import recall_scored
from mnemo_spark.operators.rrf import rrf_fuse_grouped
from mnemo_spark.operators.window_ops import top_k_ranked
from mnemo_spark.registry import _BM25_CTES, _BM25_STATS, _t, query

_QTERMS_SQL = ", ".join(f"'{t}'" for t in P.BM25_QUERY_TERMS)
_TRUSTED_SQL = ", ".join(f"'{s}'" for s in P.TRUSTED_SOURCES)


@query(
    "hybrid_recall_docs",
    f"""
    WITH {_BM25_CTES},
      -- lane 2: sparse cosine against the hash-bag query vector
      dtok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
               FROM documents),
      db AS (SELECT doc_id,
                    CAST(('0x' || substr(md5(t), 1, 6))::BIGINT % {P.HASHBAG_DIM} AS INT) AS bucket
             FROM dtok),
      dcnt AS (SELECT doc_id, bucket, count(*) AS c FROM db GROUP BY doc_id, bucket),
      qtok AS (SELECT unnest([{_QTERMS_SQL}]) AS t),
      qb AS (SELECT CAST(('0x' || substr(md5(t), 1, 6))::BIGINT % {P.HASHBAG_DIM} AS INT) AS bucket
             FROM qtok),
      qcnt AS (SELECT bucket, count(*) AS c FROM qb GROUP BY bucket),
      qn AS (SELECT sqrt(sum(c * c)) AS l2 FROM qcnt),
      qvec AS (SELECT bucket, round(c / l2, 6) AS qw FROM qcnt CROSS JOIN qn),
      -- single-pass protocol (operators/recall_core.py): integer bucket
      -- counts -> one per-doc fold of dot product and L2 norm, rounded
      -- once at the end (r4 rounded per-bucket weights first)
      cos AS (SELECT d.doc_id,
                     round(sum(d.c * coalesce(q.qw, 0)) / sqrt(sum(d.c * d.c)), 6) AS score
              FROM dcnt d LEFT JOIN qvec q USING (bucket) GROUP BY d.doc_id),
      -- ranked lanes (deterministic tiebreak: rounded score desc, id asc)
      lane_bm25 AS (SELECT doc_id, row_number() OVER (ORDER BY round(bm25, 6) DESC, doc_id) AS r
                    FROM scored),
      lane_cos AS (SELECT doc_id, row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS r
                   FROM cos),
      lane_len AS (SELECT doc_id, row_number() OVER (ORDER BY round(n_chars, 6) DESC, doc_id) AS r
                   FROM documents),
      contribs AS (
        -- candidate over-fetch: each lane contributes only its top
        -- limit*3 (recall.rs:397) — fusion input is O(lanes*N)
        SELECT doc_id, {P.RECALL_WEIGHTS['bm25']} / ({P.RRF_K} + r) AS c
        FROM lane_bm25 WHERE r <= {P.RECALL_LANE_OVERFETCH * P.RECALL_LIMIT}
        UNION ALL
        SELECT doc_id, {P.RECALL_WEIGHTS['embed']} / ({P.RRF_K} + r) AS c
        FROM lane_cos WHERE r <= {P.RECALL_LANE_OVERFETCH * P.RECALL_LIMIT}
        UNION ALL
        SELECT doc_id, {P.RECALL_WEIGHTS['length']} / ({P.RRF_K} + r) AS c
        FROM lane_len WHERE r <= {P.RECALL_LANE_OVERFETCH * P.RECALL_LIMIT}),
      fused AS (SELECT doc_id, round(sum(c), 6) AS rrf_score FROM contribs GROUP BY doc_id),
      -- trust policy: unknown/untrusted provenance down-weighted 10x
      adj AS (SELECT f.doc_id,
                     round(f.rrf_score
                           * CASE WHEN d.source IN ({_TRUSTED_SQL}) THEN 1.0 ELSE 0.1 END,
                           6) AS score
              FROM fused f JOIN documents d USING (doc_id))
    SELECT doc_id, score, rank
    FROM (SELECT doc_id, score,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS rank
          FROM adj)
    WHERE rank <= {P.RECALL_LIMIT}
    """,
)
def hybrid_recall_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship hybrid recall: BM25 + sparse-embedding-cosine +
    length-prior lanes, weighted RRF, trust down-weighting, top-k —
    the reference's `recall(strategy=hybrid)` end to end.

    All three lane scores are projections over ONE cached per-doc
    statistics frame (operators/recall_core.py — a single corpus pass
    replaces per-lane aggregation cascades). One explode melts that
    wide frame into a lane-tagged frame of one literal query — the
    shape recall_batch_docs builds for a batch — so the per-lane
    top-k + fusion run as ONE rrf_fuse_grouped plan, with provenance
    carried through: no per-lane jobs, no join back against the
    corpus."""
    scored = recall_scored(spark, sf_dir)
    lane_cols = {"bm25": "bm25", "embed": "cos", "length": "length_score"}
    entry = F.explode(
        F.array(
            *[
                F.struct(F.lit(name).alias("lane"), F.col(col).alias("score"))
                for name, col in lane_cols.items()
            ]
        )
    )
    melted = (
        scored.select(
            F.lit(0).alias("query_id"), "doc_id", "source", entry.alias("_e")
        )
        .select(
            "query_id",
            "doc_id",
            "source",
            F.col("_e.lane").alias("lane"),
            F.col("_e.score").alias("score"),
        )
        .filter(F.col("score").isNotNull())
    )
    fused = rrf_fuse_grouped(
        {},
        P.RECALL_WEIGHTS,
        P.RRF_K,
        group_col="query_id",
        id_col="doc_id",
        lane_limit=P.RECALL_LANE_OVERFETCH * P.RECALL_LIMIT,
        tagged=melted,
        lane_col="lane",
        carry_cols=("source",),
    )
    trust = F.when(F.col("source").isin(*P.TRUSTED_SOURCES), 1.0).otherwise(0.1)
    adj = fused.select(
        "doc_id", F.round(F.col("rrf_score") * trust, 6).alias("score")
    )
    return top_k_ranked(
        adj, [F.desc("score"), F.asc("doc_id")], P.RECALL_LIMIT
    ).select("doc_id", "score", "rank")


from mnemo_spark.registry import _BATCH_QUERIES

_BATCH_Q_SQL = ", ".join(
    f"('{qid}', '{t}')" for qid, terms in _BATCH_QUERIES for t in terms
)
_BUCKET = f"CAST(('0x' || substr(md5(t), 1, 6))::BIGINT % {P.HASHBAG_DIM} AS INT)"
_OVERFETCH = P.RECALL_LANE_OVERFETCH * P.RECALL_LIMIT

def _batch_perdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared wide per-doc stats artifact for the fixed query
    batch (recall_batch_docs + recall_batch_graph_docs): per-doc token
    stats, per-term tf, one dot column per query — one corpus pass,
    cached compactly under the serving cache. Its plan carries nq dense
    256-literal arrays, so analysing it for the cache key costs ~0.3 s
    of driver CPU; the prepared-plan cache builds each of the two
    queries once per session, so that is paid twice per session."""
    from mnemo_spark.cache import cached_persist
    from mnemo_spark.operators.recall_core import (
        perdoc_stats_multi,
        query_hash_bag_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    terms = sorted({t for _, ts in _BATCH_QUERIES for t in ts})
    qws = {qid: query_hash_bag_weights(ts) for qid, ts in _BATCH_QUERIES}
    return cached_persist(
        perdoc_stats_multi(docs, terms, qws),
        "recall_batch_perdoc",
        tuple(terms),
        tuple(sorted(qws)),
        compact=True,
    )


@query(
    "recall_batch_docs",
    f"""
    WITH {_BM25_STATS},
    q(query_id, term) AS (VALUES {_BATCH_Q_SQL}),
    qids AS (SELECT DISTINCT query_id FROM q),
    -- lexical lane: batched BM25, corpus stats shared across queries
    terms AS (SELECT DISTINCT term FROM q),
    hits AS (SELECT t.doc_id, unnest(t.toks) AS term FROM tok t),
    hk AS (SELECT h.doc_id, h.term FROM hits h JOIN terms USING (term)),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM hk GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    bm AS (SELECT q.query_id, tf.doc_id,
                  round(sum( ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                             * (tf.tf * ({P.BM25_K1} + 1))
                             / (tf.tf + {P.BM25_K1} * (1 - {P.BM25_B} + {P.BM25_B} * lens.dl / stats.avgdl)) ), 6) AS bm25
           FROM tf JOIN q USING (term) JOIN dfreq USING (term)
           JOIN lens USING (doc_id) CROSS JOIN stats
           GROUP BY q.query_id, tf.doc_id),
    -- semantic lane: batched hash-bag cosine (hits-only, like an ANN
    -- index returning matches) — doc bucket counts computed once
    dtok AS (SELECT doc_id, unnest(toks) AS t FROM tok),
    db AS (SELECT doc_id, {_BUCKET} AS bucket FROM dtok),
    dcnt AS (SELECT doc_id, bucket, count(*) AS c FROM db GROUP BY doc_id, bucket),
    dl2 AS (SELECT doc_id, sqrt(sum(c * c)) AS l2 FROM dcnt GROUP BY doc_id),
    qb AS (SELECT query_id, {_BUCKET} AS bucket FROM (SELECT query_id, term AS t FROM q)),
    qcnt AS (SELECT query_id, bucket, count(*) AS c FROM qb GROUP BY query_id, bucket),
    qn AS (SELECT query_id, sqrt(sum(c * c)) AS l2 FROM qcnt GROUP BY query_id),
    qvec AS (SELECT query_id, bucket, round(c / qn.l2, 6) AS qw
             FROM qcnt JOIN qn USING (query_id)),
    cos AS (SELECT v.query_id, d.doc_id,
                   round(sum(d.c * v.qw) / max(dl2.l2), 6) AS score
            FROM dcnt d JOIN qvec v USING (bucket) JOIN dl2 USING (doc_id)
            GROUP BY v.query_id, d.doc_id),
    -- per-query lane ranks (6dp-round + id tiebreak, the shared
    -- protocol); the length prior is query-independent — ranked once
    lane_bm25 AS (SELECT query_id, doc_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY round(bm25, 6) DESC, doc_id) AS r
                  FROM bm),
    lane_cos AS (SELECT query_id, doc_id,
                        row_number() OVER (PARTITION BY query_id
                                           ORDER BY round(score, 6) DESC, doc_id) AS r
                 FROM cos),
    lane_len AS (SELECT doc_id, row_number() OVER (ORDER BY round(n_chars, 6) DESC, doc_id) AS r
                 FROM documents),
    contribs AS (
      SELECT query_id, doc_id, {P.RECALL_WEIGHTS['bm25']} / ({P.RRF_K} + r) AS c
      FROM lane_bm25 WHERE r <= {_OVERFETCH}
      UNION ALL
      SELECT query_id, doc_id, {P.RECALL_WEIGHTS['embed']} / ({P.RRF_K} + r) AS c
      FROM lane_cos WHERE r <= {_OVERFETCH}
      UNION ALL
      SELECT qids.query_id, l.doc_id, {P.RECALL_WEIGHTS['length']} / ({P.RRF_K} + l.r) AS c
      FROM lane_len l CROSS JOIN qids WHERE l.r <= {_OVERFETCH}),
    fused AS (SELECT query_id, doc_id, round(sum(c), 6) AS rrf_score
              FROM contribs GROUP BY query_id, doc_id),
    adj AS (SELECT f.query_id, f.doc_id,
                   round(f.rrf_score
                         * CASE WHEN d.source IN ({_TRUSTED_SQL}) THEN 1.0 ELSE 0.1 END,
                         6) AS score
            FROM fused f JOIN documents d USING (doc_id))
    SELECT query_id, doc_id, score, rank
    FROM (SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id) AS rank
          FROM adj)
    WHERE rank <= {P.RECALL_LIMIT}
    """,
)
def recall_batch_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch-of-queries recall surface (SURVEY §6 "the engine
    batches queries"; reference J6 many-queries analog) over the
    documents corpus: a QUERIES DATAFRAME through BM25 + hash-bag
    cosine + length-prior lanes, per-query weighted RRF with the
    reference's lane over-fetch (limit*3, recall.rs:397), trust
    down-weighting, per-query top-k.

    One plan for the whole batch, one corpus pass for every lane of
    every query: perdoc_stats_multi computes the shared token stats,
    the tf of the batch's whole term universe, and one dot product per
    query in a single cached frame (the r5 flagship collapse,
    operators/recall_core.py, generalized to a batch) -- per-query
    lane scores are then pure projections, corpus scalars are
    literals, and the only per-batch jobs are the per-query lane ranks
    (WindowGroupLimit-bounded) and the fusion aggregation. Nothing is
    corpus-sized on one task."""
    terms = sorted({t for _, ts in _BATCH_QUERIES for t in ts})
    perdoc = _batch_perdoc(spark, sf_dir)
    score = bm25_literal_scorer(perdoc, len(terms), P.BM25_K1, P.BM25_B)
    tidx = {t: i for i, t in enumerate(terms)}

    def bm25_of(qterms):
        return score([tidx[t] for t in qterms])

    # melt the wide per-query scores into ONE long lane-tagged frame:
    # one row per (query, lane, doc score), hits-only (no bm25 row
    # when the doc has no query term; no cos row when no shared
    # bucket -- dot == 0 iff bucket-disjoint, since counts and 6dp
    # weights are positive). r13 (VERDICT r12 #1): a SINGLE explode
    # feeds rrf_fuse_grouped's single (query, lane)-partitioned rank
    # window — r12's shape exploded the same cached frame once per
    # lane and ranked each in its own window subtree, a chain of
    # stage barriers the REST-metrics diagnosis showed dominating the
    # warm wall. `source` rides along so the trust adjustment never
    # joins the corpus back.
    per_q = F.explode(
        F.array(
            *[
                entry
                for qid, ts in _BATCH_QUERIES
                for entry in (
                    F.struct(
                        F.lit(qid).alias("query_id"),
                        F.lit("bm25").alias("lane"),
                        bm25_of(ts).alias("score"),
                    ),
                    F.struct(
                        F.lit(qid).alias("query_id"),
                        F.lit("embed").alias("lane"),
                        F.when(
                            F.col(f"_dot_{qid}") > 0,
                            F.round(F.col(f"_dot_{qid}") / F.sqrt("_l2sq"), 6),
                        ).alias("score"),
                    ),
                )
            ]
        )
    )
    melted = (
        perdoc.select("doc_id", "source", per_q.alias("_e"))
        .select(
            "doc_id",
            "source",
            F.col("_e.query_id").alias("query_id"),
            F.col("_e.lane").alias("lane"),
            F.col("_e.score").alias("score"),
        )
        .filter(F.col("score").isNotNull())
    )
    # the length prior is query-independent: rrf_fuse_grouped truncates
    # it ONCE to its corpus-only top-_OVERFETCH (a cached index
    # artifact) and replicates only those rows per query -- never
    # corpus x queries. The batch's query ids are compile-time
    # literals, so replication is an exploded literal array: no
    # distinct, no broadcast build, no join.
    length = perdoc.select(
        "doc_id", "source", F.col("n_chars").cast("double").alias("score")
    )
    fused = rrf_fuse_grouped(
        {"length": length},
        {
            "bm25": P.RECALL_WEIGHTS["bm25"],
            "embed": P.RECALL_WEIGHTS["embed"],
            "length": P.RECALL_WEIGHTS["length"],
        },
        P.RRF_K,
        group_col="query_id",
        id_col="doc_id",
        lane_limit=_OVERFETCH,
        groups=[qid for qid, _ in _BATCH_QUERIES],
        tagged=melted,
        lane_col="lane",
        carry_cols=("source",),
    )
    trust = F.when(F.col("source").isin(*P.TRUSTED_SOURCES), 1.0).otherwise(0.1)
    adj = fused.select(
        "query_id",
        "doc_id",
        F.round(F.col("rrf_score") * trust, 6).alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        adj.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= P.RECALL_LIMIT)
        .select("query_id", "doc_id", "score", "rank")
    )


@query(
    "recall_batch_graph_docs",
    f"""
    WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
                 FROM documents),
    q(query_id, term) AS (VALUES {_BATCH_Q_SQL}),
    -- semantic lane: batched hash-bag cosine (the seeds source)
    dtok AS (SELECT doc_id, unnest(toks) AS t FROM tok),
    db AS (SELECT doc_id, {_BUCKET} AS bucket FROM dtok),
    dcnt AS (SELECT doc_id, bucket, count(*) AS c FROM db GROUP BY doc_id, bucket),
    dl2 AS (SELECT doc_id, sqrt(sum(c * c)) AS l2 FROM dcnt GROUP BY doc_id),
    qb AS (SELECT query_id, {_BUCKET} AS bucket FROM (SELECT query_id, term AS t FROM q)),
    qcnt AS (SELECT query_id, bucket, count(*) AS c FROM qb GROUP BY query_id, bucket),
    qn AS (SELECT query_id, sqrt(sum(c * c)) AS l2 FROM qcnt GROUP BY query_id),
    qvec AS (SELECT query_id, bucket, round(c / qn.l2, 6) AS qw
             FROM qcnt JOIN qn USING (query_id)),
    cos AS (SELECT v.query_id, d.doc_id,
                   round(sum(d.c * v.qw) / max(dl2.l2), 6) AS score
            FROM dcnt d JOIN qvec v USING (bucket) JOIN dl2 USING (doc_id)
            GROUP BY v.query_id, d.doc_id),
    -- per-query seeds: the k*3 over-fetch (recall.rs:397)
    seeds AS (SELECT query_id, doc_id, score
              FROM (SELECT query_id, doc_id, score,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY round(score, 6) DESC, doc_id) AS r
                    FROM cos)
              WHERE r <= {_OVERFETCH}),
    -- derived memory-graph relations: consecutive docs per source
    e0 AS (SELECT doc_id AS src,
                  lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS dst
           FROM documents),
    e1 AS (SELECT src, dst FROM e0 WHERE dst IS NOT NULL),
    und AS (SELECT src, dst FROM e1 UNION ALL SELECT dst, src FROM e1),
    -- 2-hop expansion per query, first-visit = min hop, 0.5^hop decay
    h0 AS (SELECT query_id, doc_id AS id, 0 AS hop FROM seeds),
    h1 AS (SELECT DISTINCT h0.query_id, und.dst AS id, 1 AS hop
           FROM h0 JOIN und ON und.src = h0.id),
    h2 AS (SELECT DISTINCT h1.query_id, und.dst AS id, 2 AS hop
           FROM h1 JOIN und ON und.src = h1.id),
    g AS (SELECT query_id, id, min(hop) AS hop
          FROM (SELECT * FROM h0 UNION ALL SELECT * FROM h1
                UNION ALL SELECT * FROM h2)
          GROUP BY query_id, id),
    glane AS (SELECT query_id, id AS doc_id,
                     round(pow(0.5, hop), 6) AS score
              FROM g),
    -- per-query lane ranks + equal-weight RRF (recall.rs:479-545)
    lane_vec AS (SELECT query_id, doc_id,
                        row_number() OVER (PARTITION BY query_id
                                           ORDER BY round(score, 6) DESC, doc_id) AS r
                 FROM seeds),
    lane_g AS (SELECT query_id, doc_id,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY round(score, 6) DESC, doc_id) AS r
               FROM glane),
    contribs AS (
      SELECT query_id, doc_id, 1.0 / ({P.RRF_K} + r) AS c
      FROM lane_vec WHERE r <= {_OVERFETCH}
      UNION ALL
      SELECT query_id, doc_id, 1.0 / ({P.RRF_K} + r) AS c
      FROM lane_g WHERE r <= {_OVERFETCH}),
    fused AS (SELECT query_id, doc_id, round(sum(c), 6) AS score
              FROM contribs GROUP BY query_id, doc_id)
    SELECT query_id, doc_id, score, rank
    FROM (SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id) AS rank
          FROM fused)
    WHERE rank <= {P.RECALL_LIMIT}
    """,
    # r13: the build is now a pure lazy plan (the path-graph
    # neighborhood replaced the driver-coordinated walk and the seed
    # localize), so the default prepared-plan memoization is safe
    # again — the cached object is a plan that re-executes per call,
    # not a materialized result
)
def recall_batch_graph_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched GRAPH-strategy recall (VERDICT r8 #2; reference
    recall.rs:479-545 RetrievalMode::Graph, served per request there —
    batched across a queries frame here): per-query hash-bag-cosine
    seeds (k*3 over-fetch), 2-hop expansion over a derived relation
    graph (consecutive docs per source) with 0.5^hop decay and
    first-visit dedup, equal-weight RRF of the vector and graph lanes,
    per-query top-k.

    One plan for the whole batch, never corpus × queries. The walk is
    not operators/graph.expand_grouped: this relation graph is a union
    of disjoint paths, so the ≤2-hop walk is a lag/lead ±1, ±2
    neighbour join (see below); the fusion is the same
    operators/rrf.rrf_fuse_grouped engine.recall_batch(strategy='graph')
    runs.

    r10 perf rework (VERDICT r9 #1, 1.8 s → ≲0.6 s per full call):
    the seed lane is a PROJECTION over the same cached wide per-doc
    frame recall_batch_docs builds (operators/recall_core.
    perdoc_stats_multi — per-query dot columns next to the shared
    norms, one corpus pass per corpus), replacing a join-aggregate
    cascade that paid 4 shuffle stages per call."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # the SAME artifact recall_batch_docs uses — one per-doc stats
    # frame serves the hybrid and graph batch surfaces
    perdoc = _batch_perdoc(spark, sf_dir)
    per_q = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(qid).alias("query_id"),
                    F.when(
                        F.col(f"_dot_{qid}") > 0,
                        F.round(F.col(f"_dot_{qid}") / F.sqrt("_l2sq"), 6),
                    ).alias("cos"),
                )
                for qid, _ in _BATCH_QUERIES
            ]
        )
    )
    cos = (
        perdoc.select("doc_id", per_q.alias("_e"))
        .select(
            "doc_id",
            F.col("_e.query_id").alias("query_id"),
            F.col("_e.cos").alias("cos"),
        )
        .filter(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos", 6)), F.asc("doc_id")
    )
    seeds_lazy = (
        cos.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= _OVERFETCH)
        .select("query_id", "doc_id", F.col("cos").alias("score"))
    )
    # r13 (guide §5/§7.3 — driver-side work was the measured wall):
    # warm calls spent ~1.1 s of a ~1.3 s total BUILDING this frame,
    # because a driver-coordinated BFS ran 1 eager Spark job per hop plus
    # the localize_small seed collect, serialized on the driver, per
    # call. The generic walk is overkill for THIS graph: the derived
    # relation graph is "consecutive docs per source" — a union of
    # disjoint PATHS — so a bidirectional ≤2-hop BFS from a seed is
    # exactly its lag/lead ±1, ±2 neighbors within the source
    # partition, and min-hop first-visit dedup is a groupBy min over
    # the seed × offset rows. One fully LAZY plan, zero driver
    # round-trips — which is also what re-enables the prepared-plan
    # cache that every other query already uses: with no eager build
    # step there is nothing result-shaped to memoize, the cached
    # object is a plan that re-executes per call.
    # The seeds subtree is referenced by both lanes and recomputes
    # twice per execution — two cheap passes over the cached per-doc
    # frame, traded for the collect job and its driver sync. The
    # neighbor relation is an index artifact (the same doctrine as
    # the walk's cached edge frame) pinned per corpus in serving
    # sessions. Equivalence with the generic walk is oracle-gated at
    # sf0.001/0.01/0.1.
    seeds = seeds_lazy
    ws = Window.partitionBy("source").orderBy("doc_id")
    hop_t = "struct<dst:bigint,hop:int>"
    nb = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.lag("doc_id", 2).over(ws).alias("_p2"),
            F.lag("doc_id", 1).over(ws).alias("_p1"),
            F.lead("doc_id", 1).over(ws).alias("_n1"),
            F.lead("doc_id", 2).over(ws).alias("_n2"),
        )
        .select(
            "src",
            F.explode(
                F.array(
                    F.struct(F.col("_p2").alias("dst"), F.lit(2).alias("hop")),
                    F.struct(F.col("_p1").alias("dst"), F.lit(1).alias("hop")),
                    F.struct(F.col("_n1").alias("dst"), F.lit(1).alias("hop")),
                    F.struct(F.col("_n2").alias("dst"), F.lit(2).alias("hop")),
                ).cast(f"array<{hop_t}>")
            ).alias("_nb"),
        )
        .select("src", F.col("_nb.dst").alias("dst"), F.col("_nb.hop").alias("hop"))
        .filter(F.col("dst").isNotNull())
    )
    from mnemo_spark import cache

    nb = cache.cached_persist(nb, "lead_graph_neighbors", compact=True)
    reached = seeds.select("query_id", "doc_id", F.lit(0).alias("hop")).unionByName(
        F.broadcast(seeds.select("query_id", F.col("doc_id").alias("src")))
        .join(nb, "src")
        .select("query_id", F.col("dst").alias("doc_id"), "hop")
    )
    lane = (
        reached.groupBy("query_id", "doc_id")
        .agg(F.min("hop").alias("hop"))
        .select(
            "query_id",
            "doc_id",
            F.round(F.pow(F.lit(0.5), F.col("hop")), 6).alias("score"),
        )
    )
    fused = rrf_fuse_grouped(
        {"vector": seeds, "graph": lane},
        {"vector": 1.0, "graph": 1.0},
        P.RRF_K,
        group_col="query_id",
        id_col="doc_id",
        lane_limit=_OVERFETCH,
        limit=P.RECALL_LIMIT,
    )
    return fused.select(
        "query_id", "doc_id", F.col("rrf_score").alias("score"), "rank"
    )


@query(
    "rrf_explain_docs",
    f"""
    WITH {{bm25_ctes}},
      lane_bm25 AS (SELECT doc_id, row_number() OVER (ORDER BY round(bm25, 6) DESC, doc_id) AS r
                    FROM scored),
      lane_len AS (SELECT doc_id, row_number() OVER (ORDER BY round(n_chars, 6) DESC, doc_id) AS r
                   FROM documents),
      fused AS (
        SELECT coalesce(b.doc_id, l.doc_id) AS doc_id,
               round(coalesce({P.RRF_WEIGHTS['bm25']} / ({P.RRF_K} + b.r), 0.0), 6) AS bm25_contrib,
               round(coalesce({P.RRF_WEIGHTS['length']} / ({P.RRF_K} + l.r), 0.0), 6) AS length_contrib
        FROM lane_bm25 b FULL OUTER JOIN lane_len l USING (doc_id))
    SELECT doc_id, bm25_contrib, length_contrib,
           round(bm25_contrib + length_contrib, 6) AS rrf_score, rank
    FROM (SELECT *, row_number() OVER (ORDER BY round(bm25_contrib + length_contrib, 6) DESC,
                                       doc_id) AS rank
          FROM fused)
    WHERE rank <= {P.RRF_LIMIT}
    """.replace("{bm25_ctes}", _BM25_CTES),
)
def rrf_explain_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF explain breakdown (SURVEY A1 'explain=true' ScoreBreakdown,
    recall.rs:673-719): per-document PER-LANE contribution columns
    next to the fused score — the transparency surface of hybrid
    retrieval."""
    docs = _t(spark, sf_dir, "documents")
    # r13 (the unified-rrf move applied to the explain surface): both
    # lanes rank in ONE lane-tagged window pass and the full-outer
    # join of per-lane rank frames becomes a pivot aggregation on the
    # doc id — the old shape paid one single-partition window subtree
    # per lane plus a full-outer SortMergeJoin (2 extra exchanges + 2
    # sorts) to line the contributions up. Rank semantics per lane are
    # unchanged: 1-based by (round(score, 6) DESC, doc_id ASC), over
    # the FULL lane (the explain surface's pinned contract — absent
    # lane membership contributes exactly 0.0).
    bm25_lane = bm25_score(
        docs, P.BM25_QUERY_TERMS, k1=P.BM25_K1, b=P.BM25_B
    ).select(
        "doc_id",
        F.round(F.col("bm25"), 6).alias("_s"),
        F.lit("bm25").alias("_lane"),
    )
    len_lane = docs.select(
        "doc_id",
        F.round(F.col("n_chars").cast("double"), 6).alias("_s"),
        F.lit("length").alias("_lane"),
    )
    ranked = bm25_lane.unionByName(len_lane).withColumn(
        "_rank",
        F.row_number().over(
            Window.partitionBy("_lane").orderBy(F.desc("_s"), F.asc("doc_id"))
        ),
    )
    contrib = {
        name: F.round(
            F.coalesce(
                F.max(
                    F.when(
                        F.col("_lane") == name,
                        F.lit(P.RRF_WEIGHTS[name])
                        / (F.lit(P.RRF_K) + F.col("_rank")),
                    )
                ),
                F.lit(0.0),
            ),
            6,
        )
        for name in ("bm25", "length")
    }
    fused = (
        ranked.groupBy("doc_id")
        .agg(
            contrib["bm25"].alias("bm25_contrib"),
            contrib["length"].alias("length_contrib"),
        )
        .withColumn(
            "rrf_score", F.round(F.col("bm25_contrib") + F.col("length_contrib"), 6)
        )
    )
    return top_k_ranked(
        fused, [F.desc("rrf_score"), F.asc("doc_id")], P.RRF_LIMIT
    ).select("doc_id", "bm25_contrib", "length_contrib", "rrf_score", "rank")


# ---------------------------------------------------------------------------
# routed dense lane, oracle-pinned (VERDICT r10 #7)
# ---------------------------------------------------------------------------

_ROUTED_QUERIES = [
    ("q1", "spark join window"),
    ("q2", "query data plan"),
    ("q3", "fast spark shuffle"),
]
_ROUTED_K = 10
_ROUTED_Q_SQL = ", ".join(f"('{qid}', '{qs}')" for qid, qs in _ROUTED_QUERIES)


@query(
    "recall_routed_docs",
    f"""
    WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
                 FROM documents),
    db AS (SELECT doc_id, {_BUCKET} AS bucket FROM tok),
    dcnt AS (SELECT doc_id, bucket, count(*) AS c FROM db GROUP BY doc_id, bucket),
    dn AS (SELECT doc_id, sqrt(sum(c * c)) AS l2 FROM dcnt GROUP BY doc_id),
    dvec AS (SELECT dcnt.doc_id, dcnt.bucket, round(dcnt.c / dn.l2, 6) AS dw
             FROM dcnt JOIN dn USING (doc_id)),
    q(query_id, qs) AS (VALUES {_ROUTED_Q_SQL}),
    qtok AS (SELECT query_id, unnest(regexp_extract_all(lower(qs), '[a-z0-9]+')) AS t
             FROM q),
    qb AS (SELECT query_id, {_BUCKET} AS bucket FROM qtok),
    qcnt AS (SELECT query_id, bucket, count(*) AS c FROM qb GROUP BY query_id, bucket),
    qn AS (SELECT query_id, sqrt(sum(c * c)) AS l2 FROM qcnt GROUP BY query_id),
    qvec AS (SELECT qcnt.query_id, qcnt.bucket, round(qcnt.c / qn.l2, 6) AS qw
             FROM qcnt JOIN qn USING (query_id)),
    -- every doc gets a score for every query (the kernel scores the
    -- whole probed store; bucket-disjoint pairs dot to exactly 0)
    s AS (SELECT q.query_id, d.doc_id,
                 coalesce(sum(dv.dw * qv.qw), 0.0) AS raw
          FROM (SELECT DISTINCT doc_id FROM tok) d
          CROSS JOIN (SELECT DISTINCT query_id FROM q) q
          LEFT JOIN dvec dv ON dv.doc_id = d.doc_id
          LEFT JOIN qvec qv ON qv.query_id = q.query_id AND qv.bucket = dv.bucket
          GROUP BY q.query_id, d.doc_id)
    -- rank on round(raw, 6) so the tie contract matches the engine,
    -- which ranks on the kernel's 6-dp-rounded score (ADVICE r11: two
    -- docs whose raw scores differ only past the 6th decimal tie in
    -- Spark, id-broken, but would not tie on unrounded raw here)
    SELECT query_id, 'm' || lpad(CAST(doc_id AS VARCHAR), 9, '0') AS id, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY round(raw, 6) DESC,
                                       'm' || lpad(CAST(doc_id AS VARCHAR), 9, '0')) AS rank
          FROM s)
    WHERE rank <= {_ROUTED_K}
    """,
)
def recall_routed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENGINE's routed dense lane pinned against an exact-cosine
    DuckDB twin (VERDICT r10 #7 — eval_ann gates routed recall
    statistically; this gates the routing MACHINERY exactly): the
    documents corpus becomes a memory store via the real write path
    (hash-bag embeddings), recall_batch runs with ann='ivf' FORCED on
    the sub-threshold store and ann_nprobe ≥ n_cells, so every cell is
    probed — the routed plan (codebook build, Lloyd refinement,
    persisted id→cell frame, probe-map join, routed Arrow kernel) is
    exercised end to end while its emitted (query_id, id, score, rank)
    rows must equal the exact lane's, which the oracle states as plain
    SQL. Scores are exact on every emitted candidate — the ANN
    contract, gated byte-for-byte engine-internally by
    tests/test_ann_routing.py::test_routed_scores_are_exact_on_candidates
    — so full probe ≡ exact is an identity, not a tolerance. The
    oracle pins (query_id, id, rank); the score COLUMN is excluded
    from the cross-engine compare because dots of 6-dp-rounded unit
    vectors land exactly ON decimal-grid rounding boundaries
    (x.xxxxx5), where Spark's and DuckDB's summation-order ulps
    legitimately round to different 6th decimals — a formatting
    artifact, not a semantic difference (measured: 3 of 30 rows at
    sf0.001, identical ids and ranks).

    Rank ties: the oracle ranks on round(raw, 6) DESC, id — the same
    tie contract as the engine, which ranks on the kernel's
    6-dp-rounded score (ADVICE r11: on unrounded raw, two docs whose
    raws differ only past the 6th decimal would tie in Spark but not
    in DuckDB). Boundary x.xxxxx5 raws remain the acknowledged
    score-column exclusion; the sf0.001/sf0.01/sf1x sweeps hold the
    rank identity empirically."""
    import datetime as dt

    from mnemo_spark.engine import MnemoSparkEngine

    docs = _t(spark, sf_dir, "documents")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = docs.select(
        F.format_string("m%09d", F.col("doc_id")).alias("id"),
        # multi-agent ids, NOT a constant: a literal agent_id constant-
        # folds the write path's chain-head/guard equi-joins into
        # BroadcastNestedLoopJoins (no left attribute to hash on) —
        # caught by tools/plan_audit.py in r11's self-review; with a
        # real agent column they plan as the intended broadcast hash
        # joins and the chain fold parallelizes across agents
        F.format_string("a%03d", F.col("doc_id") % 8).alias("agent_id"),
        F.col("text").alias("content"),
        F.lit("semantic").alias("memory_type"),
        F.lit("public").alias("scope"),
        F.lit(0.5).cast("float").alias("importance"),
        F.array().cast("array<string>").alias("tags"),
        F.lit(t0).alias("created_at"),
    )
    eng = MnemoSparkEngine(spark, embedding_dim=P.HASHBAG_DIM).remember_batch(
        rows
    )
    # the derived store is a corpus-only artifact (serving-cache
    # doctrine): unpinned, every warm re-execution replays the whole
    # lazy write pipeline (validate→hash→chain→embed) before scoring —
    # measured 4.3 s/run vs 0.5 s pinned at sf0.1. The ROUTING
    # artifacts (store count, Lloyd codebook) pin the same way via
    # cache.cached_value inside engine._ann_build (VERDICT r11 #3:
    # re-running codebook build + 4 Lloyd iterations per execution
    # made this the heaviest honest-twin bench entry at 5.1x)
    from mnemo_spark.cache import cached_persist

    # max_parts=8: the write-path plan's Catalyst size estimate is
    # inflated (FlatMapGroupsInPandas lineage), so the ~5 MB store
    # cached as 34 near-empty blocks and every routed kernel pass paid
    # ~34 Python-worker round-trips (r12: 1.12 s → 0.63 s warm). 8
    # parts = the fixture's agent count; the sf1x corpus is ~50 MB,
    # still comfortably 8 x 64 MiB-bounded.
    eng.memories = cached_persist(
        eng.memories, "recall_routed_store", compact=True, max_parts=8
    )
    queries = local_frame(
        spark, _ROUTED_QUERIES, "query_id string, query string"
    )
    got = eng.recall_batch(
        queries,
        "reader",
        strategy="semantic",
        k=_ROUTED_K,
        ann="ivf",
        ann_nprobe=1 << 20,  # probe every cell: routed ≡ exact
    )
    return got.select("query_id", "id", "rank")
