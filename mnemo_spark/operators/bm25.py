"""Relational BM25 — the lexical lane without a sidecar index.

The reference maintains a Tantivy BM25 index
(crates/mnemo-core/src/search/tantivy_index.rs:119-180, SURVEY §2.3
A6). Spark-first design: BM25 is three corpus statistics — document
count N, average doc length, per-term document frequency — plus the
per-(doc, term) term frequency, so it is computed relationally per
query batch and Catalyst plans it.

One scorer, two plans. `batch_bm25` scores a query DataFrame; a
single query (`bm25_score`, `bm25_topk`) is a batch of one over a
driver-side one-row query frame. A small batch runs the wide form
(`batch_bm25_wide`): one explode → groupBy(doc) pass builds a per-doc
frame with the doc length `_dl` and one conditional count `_tf<i>`
per batch term; `bm25_literal_scorer` collects N, avgdl and every df
from it in one 1-row aggregate and inlines the idf values as
literals, so each query's score is a projection. The recall core
(operators/recall_core.py) and recall_batch_docs score their own
per-doc frames through the same helper. An open-ended batch runs the
distributed term-join form, where the statistics are broadcast frames
and the idf is a column expression.

Scale notes (100 TB): the expensive stage is the explode(tokens) →
groupBy aggregation; it shuffles once on the doc id and is map-side
combined. The per-doc frame (wide form) or the postings table (join
form, serving sessions) is the index segment: under the serving cache
it persists per corpus and later batches reuse it (the reference
caches the same statistics inside Tantivy).

Scoring: score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))
idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))   (Robertson-Sparck Jones,
the same form Tantivy/Lucene use).
"""

from __future__ import annotations

import math
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mnemo_spark.functions.text import tokens
from mnemo_spark.io import local_relation
from mnemo_spark.operators.window_ops import top_k_ranked

ROUND_DP = 6  # all ranked scores are rounded before ordering so that
# rank ties break identically in Spark and the DuckDB oracle (SURVEY
# §7 "RRF rank ties" — deterministic tiebreak score desc, id asc).


def bm25_literal_scorer(
    perdoc: DataFrame, n_terms: int, k1: float, b: float
) -> Callable[[Sequence[int]], Column]:
    """BM25 over a per-doc frame with a doc length `_dl` and term
    counts `_tf0.._tf<n_terms-1>` (both null for token-less docs).

    The corpus scalars (N, avgdl, each term's df) are one 1-row
    aggregate, collected here at plan-build time and inlined as
    literals. Returns `score(term_indices)`: the 6-dp BM25 column of
    those terms, summed in the order given, null for a doc that holds
    none of them. An empty corpus has no avgdl; its scores are a null
    literal, so the caller's projection is an empty frame."""
    stats = perdoc.agg(
        F.count("*").alias("_n"),
        F.avg(F.coalesce(F.col("_dl"), F.lit(0))).alias("_avgdl"),
        *[
            F.count(F.when(F.col(f"_tf{i}") > 0, True)).alias(f"_df{i}")
            for i in range(n_terms)
        ],
    ).first()
    if stats["_n"] == 0:
        return lambda term_indices: F.lit(None).cast("double")
    n, avgdl = float(stats["_n"]), float(stats["_avgdl"])
    idf = [
        math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for df in (float(stats[f"_df{i}"]) for i in range(n_terms))
    ]
    norm = k1 * (1 - b + b * F.col("_dl") / F.lit(avgdl))

    def score(term_indices: Sequence[int]) -> Column:
        total, hits = None, F.lit(0)
        for i in term_indices:
            tf = F.col(f"_tf{i}")
            hits = hits + F.coalesce(tf, F.lit(0))
            # the guard keeps a zero/null tf out of the division
            c = F.when(
                tf > 0, F.lit(idf[i]) * (tf * (k1 + 1)) / (tf + norm)
            ).otherwise(F.lit(0.0))
            total = c if total is None else total + c
        return F.when(hits > 0, F.round(total, ROUND_DP))

    return score


def bm25_score(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every doc containing ≥1 query term. → (id, bm25).

    `batch_bm25` over a one-row driver-side query frame, without the
    query id: its head collect costs no Spark job, and the batch
    picks the plan (wide form up to WIDE_MAX_TERMS distinct terms)."""
    q = local_relation(
        docs.sparkSession,
        [(0, list(query_terms))],
        "_qid int, _terms array<string>",
    )
    out = batch_bm25(docs, q, id_col, text_col, "_qid", "_terms", k1, b)
    return out.drop("_qid")


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k by BM25, deterministic tiebreak (score desc, id asc)."""
    scored = bm25_score(docs, query_terms, id_col, text_col, k1, b)
    return top_k_ranked(scored, [F.desc("bm25"), F.asc(id_col)], k).select(
        id_col, "bm25", "rank"
    )


# bounds for the collected wide single-pass batch form, set AT the
# measured crossover (r11, sf0.1 docs, warm min-of-3): the wide form
# wins small batches (3 queries: 0.27 s vs 0.93 s in the bench
# regime) but its per-query struct/conditional-count expressions grow
# the plan super-linearly — by 8 queries the join form is ~1.7x
# faster (2.4 vs 1.4 s) and by 32 it is ~5x (7.0 vs 1.4 s). Past
# either bound the distributed term-join form below takes over
# (open-ended query streams, the engine's 32-query hybrid batches).
WIDE_MAX_QUERIES = 4
WIDE_MAX_TERMS = 12


def batch_bm25_wide(
    docs: DataFrame,
    query_rows: list[tuple],
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Small-batch BM25 as ONE corpus pass (VERDICT r10 #3 — the
    recall_core collapse applied to the batch lexical lane; the join
    form below paid ~6-8 exchanges and was the heaviest honest-twin
    bench entry at 5-6x its DuckDB twin).

    query_rows: collected [(query_id, [terms...]), ...] — the same
    definitionally-small-query-side move the dense lane's kernel makes
    (engine._dot_lane). The whole batch's term universe becomes
    conditional counts in a single explode → groupBy(doc) aggregation
    (map-side combined, one shuffle); `bm25_literal_scorer` inlines
    the corpus scalars as idf literals, so every query's score is a
    pure projection over the per-doc frame, emitted together via one
    explode of per-query structs. Two shuffles total, independent of
    batch size. → (query_id, doc_id, bm25), rows only for docs
    containing ≥1 of the query's terms (the join-form/oracle
    contract).

    In a serving session the per-doc tf frame persists per (corpus,
    term-universe) — the index-segment artifact, shared by later
    batches over the same corpus.
    """
    from mnemo_spark.cache import cached_persist

    def _empty_result() -> DataFrame:
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        qid_t = (
            LongType()
            if query_rows and isinstance(query_rows[0][0], int)
            else StringType()
        )
        return docs.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField(qid_col, qid_t),
                    StructField(id_col, docs.schema[id_col].dataType),
                    StructField("bm25", DoubleType()),
                ]
            ),
        )

    # merge duplicate query ids (the join form's qterms DISTINCT
    # unions their term sets — two rows for q1 must not emit two
    # scores) and drop term-less queries (the join form loses them in
    # its qterms explode)
    merged: dict = {}
    for qid, qts in query_rows:
        merged.setdefault(qid, set()).update(qts or [])
    scored_rows = [(qid, sorted(qts)) for qid, qts in merged.items() if qts]
    if not scored_rows:
        return _empty_result()

    terms = sorted({t for _, qts in scored_rows for t in qts})
    tok = docs.select(
        F.col(id_col).alias("_id"), tokens(text_col).alias("_tok")
    )
    perdoc_tok = (
        tok.select("_id", F.explode("_tok").alias("_t"))
        .groupBy("_id")
        .agg(
            F.count("*").alias("_dl"),
            *[
                F.count(F.when(F.col("_t") == t, True)).alias(f"_tf{i}")
                for i, t in enumerate(terms)
            ],
        )
    )
    # token-less docs keep a row with null stats: they never score,
    # but they count in N and avgdl exactly as the join form's lens
    # frame does
    perdoc = cached_persist(
        docs.select(F.col(id_col).alias("_id")).join(perdoc_tok, "_id", "left"),
        "bm25_wide_perdoc",
        tuple(terms),
        compact=True,
    )
    score = bm25_literal_scorer(perdoc, len(terms), k1, b)
    ti = {t: i for i, t in enumerate(terms)}
    per_query = F.array(
        *[
            F.struct(
                F.lit(qid).alias("_qid"),
                score([ti[t] for t in qts]).alias("_bm25"),
            )
            for qid, qts in scored_rows
        ]
    )
    return (
        perdoc.select("_id", F.explode(per_query).alias("_q"))
        .filter(F.col("_q._bm25").isNotNull())
        .select(
            F.col("_q._qid").alias(qid_col),
            F.col("_id").alias(id_col),
            F.col("_q._bm25").alias("bm25"),
        )
    )


def batch_bm25(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qterms_col: str = "terms",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score MANY queries against the corpus in one program.

    The reference serves one query per request (recall.rs); the batch
    engine's design point is a QUERIES DATAFRAME joined against the
    corpus: corpus statistics (df, avgdl) are computed ONCE and every
    query reuses them — per-query marginal cost is one equi-join on
    term. → (query_id, doc_id, bm25).

    Auto-select (VERDICT r10 #3): when the query batch is provably
    small (≤ WIDE_MAX_QUERIES queries, ≤ WIDE_MAX_TERMS distinct
    terms) the batch collapses into the single-pass wide form
    (batch_bm25_wide — two shuffles total, the recall_core move);
    open-ended batches keep the distributed term-join form below.
    Both produce identical 6dp-rounded rows (tests/test_operators.py
    checks both against a plain-Python reference). `bm25_score` is a
    batch of one.

    Scale: tokenization + stats are O(corpus) once; the hits join
    shuffles on term with query-term selectivity, so 10⁴ queries cost
    barely more than one.
    """
    from mnemo_spark.cache import cached_persist, serving_enabled

    head = queries.select(
        F.col(qid_col).alias("_qid"), F.col(qterms_col).alias("_terms")
    ).limit(WIDE_MAX_QUERIES + 1).collect()
    if len(head) <= WIDE_MAX_QUERIES:
        rows = [(r["_qid"], list(r["_terms"] or [])) for r in head]
        if len({t for _, qts in rows for t in qts}) <= WIDE_MAX_TERMS:
            return batch_bm25_wide(
                docs, rows, id_col, text_col, qid_col, k1, b
            )

    # a null text is a token-less doc (dl 0), as in the wide form;
    # size() of a null token array is null, which avg() would skip
    toks = docs.select(
        F.col(id_col).alias("_id"),
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_tok"),
    )
    lens = cached_persist(toks.select("_id", F.size("_tok").alias("_dl")), "bm25_lens", compact=True)
    # (N, avgdl) is a corpus-only scalar pair — cache the 1-row frame
    # so a warm batch pays a 1-row scan, not a lens aggregation job
    stats = cached_persist(
        lens.agg(F.count("*").alias("_n"), F.avg("_dl").alias("_avgdl")),
        "bm25_stats",
        compact=True,
    )

    qterms = queries.select(
        F.col(qid_col).alias("_qid"), F.explode(qterms_col).alias("_term")
    ).distinct()
    # broadcast-semi-join against the query-term set: no driver-side
    # collect of the term vocabulary (open-ended query batches stay
    # distributed) and the semi-join is map-side. Per-term df over the
    # term-filtered postings equals df over the full table (the filter
    # is BY term).
    terms = qterms.select("_term").distinct()
    hits = toks.select("_id", F.explode("_tok").alias("_term"))
    if serving_enabled():
        # the FULL (doc, term, tf, dl) postings table is the
        # index-time artifact (a Lucene segment): in a serving session
        # build + cache it per corpus so later batches never
        # re-tokenize — their only work is the broadcast term
        # semi-join over the postings and the scoring aggregation
        postings = cached_persist(
            hits.groupBy("_id", "_term")
            .agg(F.count("*").alias("_tf"))
            .join(lens, "_id"),
            "bm25_postings",
        )
        tf = postings.join(F.broadcast(terms), "_term", "left_semi")
        # per-term document frequency is also corpus-only (df of a
        # term-filtered postings slice == df over the full table, the
        # filter is BY term): cache the vocabulary-sized df table once
        # per corpus, so a warm batch's df side is a semi-join over a
        # tiny cached frame instead of a fresh postings scan+groupBy
        df_full = cached_persist(
            postings.groupBy("_term").agg(F.countDistinct("_id").alias("_df")),
            "bm25_df",
            compact=True,
        )
        df_ = df_full.join(F.broadcast(terms), "_term", "left_semi")
    else:
        # one-shot call: semi-join to query terms BEFORE the groupBy
        # so the shuffle is proportional to matching tokens, not the
        # corpus vocabulary (ADVICE r8 — the full postings build is
        # only worth it when a cache retains it across calls)
        tf = (
            hits.join(F.broadcast(terms), "_term", "left_semi")
            .groupBy("_id", "_term")
            .agg(F.count("*").alias("_tf"))
            .join(lens, "_id")
        )
        df_ = tf.groupBy("_term").agg(F.countDistinct("_id").alias("_df"))

    return (
        tf.join(F.broadcast(qterms), "_term")
        .join(F.broadcast(df_), "_term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(F.lit(1.0) + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)),
        )
        .withColumn(
            "_contrib",
            F.col("_idf")
            * (F.col("_tf") * (k1 + 1))
            / (F.col("_tf") + k1 * (1 - b + b * F.col("_dl") / F.col("_avgdl"))),
        )
        .groupBy("_qid", "_id")
        .agg(F.round(F.sum("_contrib"), ROUND_DP).alias("bm25"))
        .select(F.col("_qid").alias(qid_col), F.col("_id").alias(id_col), "bm25")
    )
