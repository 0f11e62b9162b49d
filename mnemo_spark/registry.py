"""Query registry: every oracle-gated query + its DuckDB SQL twin.

Each entry exercises one operator family from SURVEY.md §2 against the
driver's testdata tables (TESTDATA.md). The Spark side composes the
operator library; the SQL side is the independent semantic spec the
driver runs in DuckDB (tables pre-registered as views).

Determinism conventions (shared with the oracle):
- ranked outputs: rank by (rounded score DESC, id ASC) via row_number
- money sums rounded to 2dp; scores/ratios to 6dp
- time arithmetic in integer epoch-microseconds
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mnemo_spark import cache
from mnemo_spark import params as P
from mnemo_spark.functions.decay import ebbinghaus_score, recency_score
from mnemo_spark.io import load_table, local_frame
from mnemo_spark.operators.bm25 import bm25_score, bm25_topk
from mnemo_spark.operators.chain import chain_heads
from mnemo_spark.operators.outlier import zscore_outliers
from mnemo_spark.operators.rrf import rrf_fuse
from mnemo_spark.operators.textquality import lang_id, token_stats
from mnemo_spark.operators.vector import ann_lsh_topk, knn_label_vote, topk_cosine
from mnemo_spark.operators.window_ops import sessionize, top_k_per_group

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# Prepared-query cache: re-invoking a registry query re-pays ~0.5-1.5s
# of driver-side plan construction + analysis — thousands of Py4J round
# trips plus Catalyst passes over a deep operator tree — for a plan that
# is byte-identical every time. Inside a serving session the built
# DataFrame is a session value of mnemo_spark.cache, keyed by
# (_PLAN, sf_dir, query): the relational analog of the reference's
# prepared statements + resident index handles. DataFrames are
# immutable, so sharing the object is safe. Outside serving, tests and
# one-shot runs always exercise a fresh build.
_PLAN = "plan"


def clear_plan_cache() -> None:
    """Drop every prepared plan (no persisted blocks of its own — the
    frames reference session pins and tables, which clear separately)."""
    cache.drop_values(_PLAN)


def query(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        import functools

        @functools.wraps(fn)
        def serve(spark: SparkSession, sf_dir: str) -> DataFrame:
            return cache.session_value(
                spark, (_PLAN, sf_dir, name), lambda: fn(spark, sf_dir)
            )

        QUERIES[name] = serve
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Relational core: scans / filters / aggregations / joins (S3-S8, A10, J1/J9)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 6)                                        AS avg_qty,
           round(avg(l_extendedprice), 6)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter + 8-agg groupBy (SURVEY S3/A10).

    Scale: filter pushes to the parquet scan; partial aggregation is
    map-side combined — one shuffle of |groups| rows.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    """
    WITH rev AS (
      SELECT l.l_orderkey,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
             o.o_orderdate, o.o_orderpriority
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    )
    SELECT l_orderkey, revenue, o_orderdate, o_orderpriority
    FROM (SELECT *, row_number() OVER (ORDER BY revenue DESC, l_orderkey) AS rn FROM rev)
    WHERE rn <= 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-10 (SURVEY J9/W1).

    customer is the small side — Catalyst broadcasts it; the
    orders⋈lineitem join shuffles on orderkey.
    """
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    rev = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )
    # orderBy().limit() plans TakeOrderedAndProject: parallel per-
    # partition partial top-k, no single-partition ranking window
    return (
        rev.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "q5_region_revenue",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey   = c.c_custkey
    JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
    JOIN supplier s ON s.s_suppkey   = l.l_suppkey AND s.s_nationkey = n.n_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with dimension broadcast (SURVEY J9).

    region/nation/customer/supplier are broadcast dims; the only big
    shuffle is orders⋈lineitem on orderkey.
    """
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (s.s_nationkey == n.n_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "top_orders_per_priority",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rank
    FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rank
          FROM orders)
    WHERE rank <= 3
    """,
)
def top_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranked window (SURVEY W2/W10)."""
    o = _t(spark, sf_dir, "orders")
    return top_k_per_group(
        o.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        ["o_orderpriority"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        3,
    )


@query(
    "filtered_scan_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM (SELECT *, row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders
          WHERE o_orderstatus = 'F'
            AND o_totalprice > 150000
            AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00')
    WHERE rn <= 100
    """,
)
def filtered_scan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered list scan + ORDER BY + LIMIT (SURVEY S3) — the
    reference's dynamic MemoryFilter conjunction, with a deterministic
    tiebreak so LIMIT is stable."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_totalprice") > 150000)
            & (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    )


@query(
    "semi_join_customers_with_orders",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def semi_join_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join — the reference's ACL visibility shape (SURVEY
    J1: `id IN (SELECT memory_id FROM acls WHERE ...)`)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "anti_join_parts_never_ordered",
    """
    SELECT count(*) AS n_unsold, round(sum(p_retailprice), 2) AS locked_value
    FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
)
def anti_join_parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) — orphan detection shape."""
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem")
    # distinct BEFORE the anti join (r13, guide §2.3 aggregate-first):
    # the anti join needs key EXISTENCE only, and Catalyst was building
    # the broadcast hash relation over the raw 600k-row l_partkey
    # projection per execution; the distinct is map-side combinable and
    # shrinks the build (and, at scale, the shuffle) to unique keys.
    # NOT EXISTS semantics are distinct-invariant.
    sold = l.select("l_partkey").distinct()
    return (
        p.join(sold, p.p_partkey == sold.l_partkey, "left_anti")
        .agg(
            F.count("*").alias("n_unsold"),
            F.round(F.sum("p_retailprice"), 2).alias("locked_value"),
        )
    )


@query(
    "incremental_scan_events",
    f"""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events WHERE ts > TIMESTAMP '{P.INCREMENTAL_WATERMARK}'
    GROUP BY event_type
    """,
)
def incremental_scan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark incremental scan (SURVEY S8, list_memories_since) —
    the CDC feed shape; the predicate prunes at the scan."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.col("ts") > F.lit(P.INCREMENTAL_WATERMARK).cast("timestamp"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


# ---------------------------------------------------------------------------
# Retrieval: BM25 lane, RRF fusion, vector top-k, LSH ANN, kNN (A1/A6/J5/J6)
# ---------------------------------------------------------------------------

_TERMS_SQL = ", ".join(f"'{t}'" for t in P.BM25_QUERY_TERMS)

# BM25 corpus statistics shared by every SQL twin: a null-text doc
# counts in N with dl 0, as in the Spark forms (DuckDB's avg would
# skip its NULL length)
_BM25_STATS = """
      tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
              FROM documents),
      lens AS (SELECT doc_id, coalesce(len(toks), 0) AS dl FROM tok),
      stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lens)"""

# shared scored-BM25 CTE body (Robertson idf, k1/b from params) — the
# SQL twin of operators.bm25.bm25_score, a one-query batch_bm25
_BM25_CTES = f"""{_BM25_STATS},
      hits AS (SELECT doc_id, unnest(list_filter(toks, x -> x IN ({_TERMS_SQL}))) AS term
               FROM tok),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY doc_id, term),
      dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
      scored AS (
        SELECT tf.doc_id,
               round(sum( ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                          * (tf.tf * ({P.BM25_K1} + 1))
                          / (tf.tf + {P.BM25_K1} * (1 - {P.BM25_B} + {P.BM25_B} * lens.dl / stats.avgdl)) ), 6) AS bm25
        FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
        GROUP BY tf.doc_id)
"""


@query(
    "bm25_topk_docs",
    f"""
    WITH {_BM25_CTES}
    SELECT doc_id, bm25, rank
    FROM (SELECT doc_id, bm25,
                 row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
          FROM scored)
    WHERE rank <= {P.BM25_TOPK}
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational BM25 lexical lane, top-k (SURVEY A6 — replaces the
    reference's Tantivy sidecar index with three aggregations)."""
    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, P.BM25_QUERY_TERMS, P.BM25_TOPK, k1=P.BM25_K1, b=P.BM25_B)


@query(
    "salted_agg_events",
    """
    SELECT user_id, count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
)
def salted_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase salted aggregation (SURVEY scale ops,
    operators/skew.py): the (key, salt) pre-shuffle + key combine must
    be algebraically IDENTICAL to a plain GROUP BY — the oracle is the
    plain form, proving the decomposition, while the Spark plan
    spreads a hot key over 16 tasks."""
    from mnemo_spark.operators.skew import salted_agg

    e = _t(spark, sf_dir, "events")
    # decimal partials: exact and ORDER-INDEPENDENT, so the two-phase
    # sum is bit-identical to the oracle's one-phase sum regardless of
    # how the salt splits the rows (double partials would drift on FP
    # association at some split)
    out = salted_agg(
        e,
        ["user_id"],
        {"c": F.count("*"), "s": F.sum(F.col("value").cast("decimal(18,4)"))},
        {"n": F.sum("c"), "total": F.sum("s")},
    )
    return out.select(
        "user_id",
        F.col("n"),
        F.round("total", 2).cast("double").alias("total_value"),
    )


_BATCH_QUERIES = [
    ("q1", ["spark", "join"]),
    ("q2", ["window", "query"]),
    ("q3", ["spark", "shuffle", "partition"]),
]
_BATCH_Q_SQL = ", ".join(
    f"('{qid}', '{t}')" for qid, terms in _BATCH_QUERIES for t in terms
)


@query(
    "batch_bm25_docs",
    f"""
    WITH {_BM25_STATS},
    q(query_id, term) AS (VALUES {_BATCH_Q_SQL}),
    terms AS (SELECT DISTINCT term FROM q),
    hits AS (SELECT t.doc_id, unnest(t.toks) AS term FROM tok t),
    hk AS (SELECT h.doc_id, h.term FROM hits h JOIN terms USING (term)),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM hk GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term)
    SELECT q.query_id, tf.doc_id,
           round(sum( ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                      * (tf.tf * ({P.BM25_K1} + 1))
                      / (tf.tf + {P.BM25_K1} * (1 - {P.BM25_B} + {P.BM25_B} * lens.dl / stats.avgdl)) ), 6) AS bm25
    FROM tf JOIN q USING (term) JOIN dfreq USING (term)
    JOIN lens USING (doc_id) CROSS JOIN stats
    GROUP BY q.query_id, tf.doc_id
    """,
)
def batch_bm25_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANY queries scored against the corpus in ONE program (the
    batch engine's design point vs the reference's per-request
    serving, operators/bm25.batch_bm25): corpus statistics compute
    once, every query reuses them via a broadcast term join — 10^4
    queries cost barely more than one."""
    from mnemo_spark.operators.bm25 import batch_bm25

    docs = _t(spark, sf_dir, "documents")
    # local_frame: a pickled-slice createDataFrame(list) costs ~32
    # Python-worker tasks per scan; the batch collect at build pays it
    # on every non-serving call (r13, guide §4)
    queries_df = local_frame(
        spark, _BATCH_QUERIES, "query_id string, terms array<string>"
    )
    return batch_bm25(docs, queries_df, k1=P.BM25_K1, b=P.BM25_B)


@query(
    "rrf_hybrid_docs",
    f"""
    WITH {_BM25_CTES},
      lane_bm25 AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
                    FROM scored),
      lane_len AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
                   FROM documents),
      contribs AS (
        SELECT doc_id, {P.RRF_WEIGHTS['bm25']} / ({P.RRF_K} + r) AS c FROM lane_bm25
        UNION ALL
        SELECT doc_id, {P.RRF_WEIGHTS['length']} / ({P.RRF_K} + r) AS c FROM lane_len),
      fused AS (SELECT doc_id, round(sum(c), 6) AS rrf_score FROM contribs GROUP BY doc_id)
    SELECT doc_id, rrf_score, rank
    FROM (SELECT doc_id, rrf_score,
                 row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
          FROM fused)
    WHERE rank <= {P.RRF_LIMIT}
    """,
)
def rrf_hybrid_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted RRF fusion of a BM25 lane and a doc-length lane
    (SURVEY A1, the reference's tuned hybrid weights/rrf_k shape).
    Lane scores come from the shared single-pass per-doc frame
    (operators/recall_core.py) — one corpus aggregation serves every
    recall-family query."""
    from mnemo_spark.operators.recall_core import recall_scored

    scored = recall_scored(spark, sf_dir)
    lanes = {
        "bm25": scored.filter(F.col("bm25").isNotNull()).select(
            "doc_id", F.col("bm25").alias("score")
        ),
        "length": scored.select("doc_id", F.col("length_score").alias("score")),
    }
    return rrf_fuse(lanes, P.RRF_WEIGHTS, P.RRF_K, limit=P.RRF_LIMIT)


_QIDS = ", ".join(str(i) for i in P.VECTOR_QUERY_IDS)
_KNN_QIDS = ", ".join(str(i) for i in P.KNN_QUERY_IDS)

_COS_SQL = (
    "round(list_dot_product(c.v, q.qv)"
    " / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6)"
)


@query(
    "vector_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id IN ({_QIDS})),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         s AS (SELECT q.query_id, c.vec_id, {_COS_SQL} AS cos_sim
               FROM c CROSS JOIN q)
    SELECT query_id, vec_id, cos_sim, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, vec_id) AS rank FROM s)
    WHERE rank <= {P.VECTOR_TOPK}
    """,
)
def vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k per query (SURVEY J6) — the
    batch replacement for the reference's HNSW single-query ANN."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(P.VECTOR_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return topk_cosine(emb, queries, P.VECTOR_TOPK)


def _plane_sql(h: list[float]) -> str:
    return "[" + ", ".join(str(x) for x in h) + "]::DOUBLE[]"


_BUCKET_SQL_C = "concat(" + ", ".join(
    f"CASE WHEN list_dot_product(v, {_plane_sql(h)}) > 0 THEN '1' ELSE '0' END"
    for h in P.LSH_HYPERPLANES
) + ")"
_BUCKET_SQL_Q = "concat(" + ", ".join(
    f"CASE WHEN list_dot_product(qv, {_plane_sql(h)}) > 0 THEN '1' ELSE '0' END"
    for h in P.LSH_HYPERPLANES
) + ")"


@query(
    "ann_lsh_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id IN ({_QIDS})),
         qb AS (SELECT query_id, qv, {_BUCKET_SQL_Q} AS bucket FROM q),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cb AS (SELECT vec_id, v, {_BUCKET_SQL_C} AS bucket FROM c),
         s AS (SELECT q.query_id, c.vec_id, {_COS_SQL} AS cos_sim
               FROM cb c JOIN qb q USING (bucket))
    SELECT query_id, vec_id, cos_sim, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, vec_id) AS rank FROM s)
    WHERE rank <= {P.VECTOR_TOPK}
    """,
)
def ann_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed approximate top-k (SURVEY J6 scale path):
    the crossJoin becomes an equi-join on an 8-bit hyperplane bucket."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(P.VECTOR_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ann_lsh_topk(emb, queries, P.LSH_HYPERPLANES, P.VECTOR_TOPK)


@query(
    "knn_label_vote",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id IN ({_KNN_QIDS})),
         c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         s AS (SELECT q.query_id, c.vec_id, c.label, {_COS_SQL} AS cos_sim
               FROM c CROSS JOIN q),
         nn AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_sim DESC, vec_id) AS rank FROM s)
                WHERE rank <= {P.KNN_K}),
         votes AS (SELECT query_id, label, count(*) AS votes FROM nn
                   GROUP BY query_id, label)
    SELECT query_id, label AS pred_label, votes
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY votes DESC, label) AS rn FROM votes)
    WHERE rn = 1
    """,
)
def knn_label_vote_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote over the embedding corpus — similarity
    search powering classification (BASELINE.json pipeline ops)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(P.KNN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return knn_label_vote(emb, queries, P.KNN_K)


# ---------------------------------------------------------------------------
# Mnemo temporal / lifecycle semantics over events (W3/W5/W6/A9, sessionize)
# ---------------------------------------------------------------------------


@query(
    "event_chain_heads",
    """
    WITH h AS (
      SELECT user_id, ts, event_id,
             sha256(concat_ws('|', event_id::VARCHAR, event_type,
                              CAST(value AS DECIMAL(18,2))::VARCHAR)) AS ch
      FROM events),
    arr AS (SELECT user_id, count(*) AS chain_len,
                   list(ch ORDER BY ts, event_id) AS hashes
            FROM h GROUP BY user_id)
    SELECT user_id, chain_len,
           list_reduce(list_prepend('', hashes),
                       (acc, x) -> sha256(concat(x, acc))) AS chain_head
    FROM arr
    """,
)
def event_chain_heads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHA-256 hash-chain head per user over the audit event stream
    (SURVEY A9/W4 — verify_event_chain's fold, JVM-side aggregate)."""
    e = _t(spark, sf_dir, "events").withColumn(
        "ch",
        F.sha2(
            F.concat_ws(
                "|",
                F.col("event_id").cast("string"),
                F.col("event_type"),
                F.col("value").cast("decimal(18,2)").cast("string"),
            ),
            256,
        ),
    )
    return chain_heads(e, ["user_id"], ["ts", "event_id"], "ch")


@query(
    "sessionize_events",
    f"""
    WITH g AS (
      SELECT user_id, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {int(P.SESSION_GAP_MINUTES * 60 * 1e6)}
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts))
    SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions, count(*) AS n_events
    FROM g GROUP BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch analog of streaming
    session_window, SURVEY §2.7) — sessions per user."""
    e = _t(spark, sf_dir, "events")
    s = sessionize(e, "user_id", "ts", P.SESSION_GAP_MINUTES)
    return s.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"), F.count("*").alias("n_events")
    )


@query(
    "current_fact_latest_event",
    """
    SELECT user_id, event_type, event_id AS last_event_id, ts AS last_ts
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def current_fact_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-fact resolver shape (SURVEY W3): newest write per fact
    key wins; older revisions form the superseded chain."""
    e = _t(spark, sf_dir, "events")
    out = top_k_per_group(
        e, ["user_id", "event_type"], [F.desc("ts"), F.desc("event_id")], 1
    )
    return out.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
    )


@query(
    "decay_scores_events",
    f"""
    WITH mx AS (SELECT max(ts) AS now_ts FROM events),
    s AS (
      SELECT e.event_id, e.user_id,
             ((epoch_us(mx.now_ts) - epoch_us(e.ts)) / 1000000.0) / 3600.0 AS age_h,
             e.value
      FROM events e CROSS JOIN mx)
    SELECT event_id, user_id,
           round(pow(2.0, -age_h / {P.DECAY_HALF_LIFE_HOURS}), 6) AS recency,
           round(least(greatest(pow(0.5, age_h / {P.DECAY_HALF_LIFE_HOURS})
                                + log2(1.0 + CAST(value AS DOUBLE)) * 0.05, 0.0), 1.0), 6)
             AS ebbinghaus
    FROM s
    """,
)
def decay_scores_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency + Ebbinghaus decay lanes (SURVEY W5/W6) anchored at the
    corpus max timestamp (deterministic 'now')."""
    e = _t(spark, sf_dir, "events")
    now = e.agg(F.max("ts").alias("now_ts"))
    j = e.crossJoin(F.broadcast(now))
    return j.select(
        "event_id",
        "user_id",
        F.round(
            recency_score(F.col("ts"), F.col("now_ts"), P.DECAY_HALF_LIFE_HOURS), 6
        ).alias("recency"),
        F.round(
            ebbinghaus_score(
                F.col("ts"), F.col("now_ts"), F.col("value"), P.DECAY_HALF_LIFE_HOURS
            ),
            6,
        ).alias("ebbinghaus"),
    )


@query(
    "zscore_outliers_embeddings",
    f"""
    WITH pos AS (SELECT label, vec_id, t.i, CAST(embedding[t.i] AS DOUBLE) AS val
                 FROM embeddings, range(1, {P.EMBEDDING_DIM + 1}) t(i)),
    base AS (SELECT label, i, avg(val) AS mu,
                    greatest(var_pop(val), 1e-6) AS var
             FROM pos GROUP BY label, i),
    z AS (SELECT p.label, p.vec_id,
                 round(sqrt(avg((p.val - b.mu) * (p.val - b.mu) / b.var)), 6) AS zscore
          FROM pos p JOIN base b ON p.label = b.label AND p.i = b.i
          GROUP BY p.label, p.vec_id)
    SELECT label, vec_id, zscore FROM z WHERE zscore > {P.ZSCORE_SIGMA}
    """,
)
def zscore_outliers_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group embedding baseline (μ, floored diag-cov) + z-score
    outlier gate (SURVEY A3/A4 — the quarantine candidate set)."""
    emb = _t(spark, sf_dir, "embeddings")
    return zscore_outliers(
        emb, "label", "vec_id", "embedding", P.EMBEDDING_DIM, P.ZSCORE_SIGMA
    )


# ---------------------------------------------------------------------------
# Text analysis (lang-id, token stats — BASELINE.json pipeline operators)
# ---------------------------------------------------------------------------

from mnemo_spark.operators.textquality import LANG_STOPWORDS  # noqa: E402


def _langid_sql() -> str:
    hit_cols = ",\n             ".join(
        f"len(list_filter(toks, t -> t IN ({', '.join(repr(w) for w in words)}))) AS h_{lang}"
        for lang, words in sorted(LANG_STOPWORDS.items())
    )
    langs_desc = sorted(LANG_STOPWORDS, reverse=True)
    m = "greatest(" + ", ".join(f"h_{l}" for l in sorted(LANG_STOPWORDS)) + ")"
    case = " ".join(f"WHEN h_{l} = m THEN '{l}'" for l in langs_desc[:-1])
    last = langs_desc[-1]
    return f"""
    WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
                 FROM documents),
    hits AS (SELECT doc_id,
             {hit_cols}
             FROM tok),
    best AS (SELECT doc_id, {m} AS m, * FROM hits)
    SELECT doc_id,
           CASE WHEN m = 0 THEN 'und' {case} ELSE '{last}' END AS pred_lang
    FROM best
    """


@query("lang_id_docs", _langid_sql())
def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-share language ID (pipeline text-analysis operator;
    ties break to greatest lang code, 'und' when no hits)."""
    return lang_id(_t(spark, sf_dir, "documents"))


@query(
    "token_stats_docs",
    r"""
    SELECT doc_id,
           len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS ws_words,
           len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS regex_tokens,
           CAST(ceil(len(text) / 4.0) AS BIGINT) AS est_bpe_tokens
    FROM documents
    """,
)
def token_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace words, regex tokens,
    ceil(chars/4) BPE estimate (reference F13)."""
    return token_stats(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Dedup family (exact / MinHash-LSH / n-gram Jaccard / SimHash) — the
# training-data-pipeline operators (BASELINE.json) + reference J5 analog
# ---------------------------------------------------------------------------

from mnemo_spark.functions.text import shingles, token_estimate, tokens  # noqa: E402
from mnemo_spark.operators.dedup import (  # noqa: E402
    exact_dedup,
    minhash_band_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from mnemo_spark.operators.textquality import fingerprint_mink, quality_scores  # noqa: E402

_PFX = P.DEDUP_PREFIX_TOKENS
_PFX_COLS = ", ".join(f"toks[{i}]" for i in range(1, _PFX + 1))


@query(
    "exact_dedup_prefix",
    f"""
    WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
                 FROM documents),
    k AS (SELECT doc_id, md5(concat_ws(' ', {_PFX_COLS})) AS content_md5 FROM tok)
    SELECT content_md5, min(doc_id) AS keep_id, count(*) AS dup_count,
           string_agg(doc_id::VARCHAR, '|' ORDER BY doc_id) AS member_ids
    FROM k GROUP BY content_md5 HAVING count(*) > 1
    """,
)
def exact_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (SURVEY: hash-groupBy dedup), keyed
    on the first-5-token prefix so the synthetic corpus yields groups.
    One groupBy shuffle on the md5 key — uniform distribution at any
    scale."""
    docs = _t(spark, sf_dir, "documents")
    keyed = docs.withColumn(
        "_pfx", F.concat_ws(" ", F.slice(tokens("text"), 1, _PFX))
    )
    out = exact_dedup(keyed, id_col="doc_id", text_col="_pfx")
    return out.select(
        "content_md5",
        "keep_id",
        "dup_count",
        F.array_join(F.transform("member_ids", lambda x: x.cast("string")), "|").alias(
            "member_ids"
        ),
    )


_MINHASH_R = P.MINHASH_NUM // P.MINHASH_BANDS


@query(
    "minhash_near_dup_pairs",
    f"""
    WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
                 FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct(list_transform(
                    range(1, greatest(len(toks) - {P.JACCARD_SHINGLE_K - 2}, 1)),
                    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shs
           FROM tok),
    e AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    h0 AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS h0 FROM e),
    coef(seed, a, b) AS (VALUES {", ".join(f"({s}, {a}, {b})" for s, (a, b) in enumerate(P.MINHASH_COEFFS))}),
    seeded AS (SELECT doc_id, seed, (a * h0 + b) % {P.MINHASH_PRIME} AS h
               FROM h0, coef),
    sig AS (SELECT doc_id, seed, min(h) AS minhash FROM seeded GROUP BY doc_id, seed),
    band AS (SELECT doc_id, CAST(seed // {_MINHASH_R} AS INT) AS band,
                    md5(string_agg(minhash::VARCHAR, '|' ORDER BY minhash)) AS band_key
             FROM sig GROUP BY doc_id, CAST(seed // {_MINHASH_R} AS INT)),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM band a JOIN band b USING (band, band_key)
              WHERE a.doc_id < b.doc_id)
    SELECT id_a, id_b, count(*) AS n_bands FROM pairs GROUP BY id_a, id_b
    """,
)
def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (shingle → minhash → band →
    bucket-join): only co-banded docs are ever compared — the 100-TB
    dedup path. Hash family: lexicographic min of md5(shingle#seed)."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_band_pairs(
        docs, P.MINHASH_NUM, P.MINHASH_BANDS, P.JACCARD_SHINGLE_K
    )


@query(
    "ngram_jaccard_pairs",
    f"""
    WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
                 FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct(list_transform(
                    range(1, greatest(len(toks) - {P.JACCARD_SHINGLE_K - 2}, 1)),
                    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shs
           FROM tok),
    e0 AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    dfr AS (SELECT s FROM e0 GROUP BY s HAVING count(*) <= {P.JACCARD_MAX_DF}),
    e AS (SELECT e0.doc_id,
                 CAST('0x' || substr(md5(e0.s), 1, 15) AS BIGINT) AS hh
          FROM e0 JOIN dfr USING (s)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM e GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
              FROM e a JOIN e b USING (hh) WHERE a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b,
           round(n * 1.0 / (sa.sz + sb.sz - n), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.5
    """,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard via inverted-index self-join (never a
    cross product); finds the corpus's planted near-duplicates."""
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, 0.5, P.JACCARD_SHINGLE_K, max_df=P.JACCARD_MAX_DF)


@query(
    "simhash_docs",
    """
    WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
                 FROM documents),
    b AS (SELECT doc_id, p.i,
                 CASE WHEN substr(md5(t), p.i, 1) IN ('8','9','a','b','c','d','e','f')
                      THEN 1 ELSE -1 END AS c
          FROM tok, range(1, 17) p(i)),
    agg AS (SELECT doc_id, i, sum(c) AS s FROM b GROUP BY doc_id, i)
    SELECT doc_id,
           string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS simhash
    FROM agg GROUP BY doc_id
    """,
)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit tf-weighted SimHash signature per doc; near-dups collide
    on the signature (91 collision groups in this corpus)."""
    return simhash(_t(spark, sf_dir, "documents"))


@query(
    "quality_scores_docs",
    r"""
    WITH s AS (
      SELECT doc_id, text,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
             len(text) AS n_chars_m,
             len(text) - len(translate(text, '.,!?;:''"()[]{}', '')) AS punct
      FROM documents),
    m AS (
      SELECT doc_id, n_chars_m, len(toks) AS n_tokens, punct,
             len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS stop_hits,
             CASE WHEN len(toks) > 0
                  THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS mean_tok
      FROM s),
    r AS (
      SELECT doc_id, n_chars_m, n_tokens,
             CASE WHEN n_chars_m > 0 THEN CAST(punct AS DOUBLE) / n_chars_m ELSE 0.0 END AS punct_ratio,
             CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio,
             mean_tok
      FROM m)
    SELECT doc_id, n_chars_m, n_tokens,
           round(punct_ratio, 6) AS punct_ratio,
           round(stop_ratio, 6) AS stopword_ratio,
           round(mean_tok, 6) AS mean_token_len,
           round(least(n_tokens / 100.0, 1.0) * 0.4
                 + least(stop_ratio * 5.0, 1.0) * 0.3
                 + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2
                 + CASE WHEN mean_tok >= 3.0 AND mean_tok <= 10.0 THEN 1.0 ELSE 0.0 END * 0.1,
                 6) AS quality
    FROM r
    """,
)
def quality_scores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training quality gate: length/punct/stopword features +
    composite score (pipeline text-analysis operator)."""
    return quality_scores(_t(spark, sf_dir, "documents"))


@query(
    "fingerprint_docs",
    f"""
    WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
                 FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct(list_transform(
                    range(1, greatest(len(toks) - {P.JACCARD_SHINGLE_K - 2}, 1)),
                    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shs
           FROM tok),
    h AS (SELECT doc_id, list_distinct(list_transform(shs, s -> md5(s))) AS hs FROM sh)
    SELECT doc_id,
           array_to_string(list_slice(list_sort(hs), 1, {P.FINGERPRINT_K}), '|') AS fingerprint
    FROM h
    """,
)
def fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-k document fingerprint: k smallest md5(shingle) values —
    winnowing-family sketch, order-stable across engines."""
    return fingerprint_mink(
        _t(spark, sf_dir, "documents"), P.FINGERPRINT_K, P.JACCARD_SHINGLE_K
    )


# ---------------------------------------------------------------------------
# Graph expansion, budgets, as-of, profiles, rollup/pivot, multimodal
# (J3/J7, W8/W9, P2, A2/A8, streaming-batch analogs, binary plumbing)
# ---------------------------------------------------------------------------

from mnemo_spark.operators.graph import expand  # noqa: E402
from mnemo_spark.operators.window_ops import (  # noqa: E402
    evidence_budget_prefix,
    token_budget_pack,
)


@query(
    "graph_expand_2hop",
    """
    WITH e AS (
      SELECT 'n' || c_nationkey::VARCHAR AS src, 'c' || c_custkey::VARCHAR AS dst
      FROM customer
      UNION ALL
      SELECT 'c' || o_custkey::VARCHAR, 'o' || o_orderkey::VARCHAR FROM orders),
    seeds AS (SELECT 'n' || n_nationkey::VARCHAR AS id FROM nation WHERE n_regionkey = 0),
    h0 AS (SELECT id, 0 AS hop FROM seeds),
    h1 AS (SELECT DISTINCT e.dst AS id, 1 AS hop FROM e JOIN h0 ON e.src = h0.id),
    h2 AS (SELECT DISTINCT e.dst AS id, 2 AS hop FROM e JOIN h1 ON e.src = h1.id),
    u AS (SELECT * FROM h0 UNION ALL SELECT * FROM h1 UNION ALL SELECT * FROM h2)
    SELECT id, min(hop) AS hop, round(pow(0.5, min(hop)), 6) AS score
    FROM u GROUP BY id
    """,
)
def graph_expand_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop BFS with 0.5/hop decay and min-hop dedup (SURVEY J3 — the
    reference's relations expansion) over a derived nation→customer→
    order edge list. Each hop is one equi-join; at scale edges are
    pre-partitioned by src so hops co-locate."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    e1 = c.select(
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("dst"),
    )
    e2 = o.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("dst"),
    )
    seeds = n.filter(F.col("n_regionkey") == 0).select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("id")
    )
    return expand(e1.unionByName(e2), seeds, hops=2, decay=0.5)


@query(
    "evidence_budget_docs",
    f"""
    WITH {_BM25_CTES},
    ranked AS (SELECT doc_id, bm25,
                      row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
               FROM scored),
    cum AS (SELECT doc_id, bm25, rank,
                   coalesce(sum(bm25) OVER (ORDER BY rank
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cb
            FROM ranked)
    SELECT doc_id, bm25, rank FROM cum
    WHERE cb < {P.EVIDENCE_BAR} AND rank <= {P.EVIDENCE_MAX}
    """,
)
def evidence_budget_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence-budget prefix (SURVEY W8, query/evidence.rs): smallest
    ranked prefix whose cumulative sufficiency reaches the bar; the
    documented invariant — a prefix, never a reorder."""
    docs = _t(spark, sf_dir, "documents")
    # the prefix can never exceed EVIDENCE_MAX rows, so top-k only that
    # many candidates — ranks 1..15 are identical to global ranks
    ranked = bm25_topk(docs, P.BM25_QUERY_TERMS, P.EVIDENCE_MAX, k1=P.BM25_K1, b=P.BM25_B)
    return evidence_budget_prefix(ranked, "bm25", P.EVIDENCE_BAR, P.EVIDENCE_MAX)


@query(
    "token_budget_pack_docs",
    f"""
    WITH {_BM25_CTES},
    ranked AS (SELECT s.doc_id, s.bm25,
                      row_number() OVER (ORDER BY s.bm25 DESC, s.doc_id) AS rank,
                      CAST(ceil(d.n_chars / 4.0) AS BIGINT) AS est_tokens
               FROM scored s JOIN documents d USING (doc_id)),
    cum AS (SELECT *, sum(est_tokens) OVER (ORDER BY rank
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct
            FROM ranked)
    SELECT doc_id, bm25, rank, est_tokens FROM cum WHERE ct <= {P.TOKEN_BUDGET}
    """,
)
def token_budget_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retained-evidence packing (SURVEY W9, query/retained.rs): ranked
    prefix under a token budget, cost = ceil(chars/4)."""
    docs = _t(spark, sf_dir, "documents")
    # every doc costs >= 1 token (n_chars >= 1), so a prefix within a
    # 400-token budget has at most 400 rows — cap the ranking there
    ranked = bm25_topk(docs, P.BM25_QUERY_TERMS, P.TOKEN_BUDGET, k1=P.BM25_K1, b=P.BM25_B).join(
        docs.select("doc_id", token_estimate(F.col("n_chars").cast("string")).alias("_x"),
                    F.ceil(F.col("n_chars") / 4).cast("long").alias("est_tokens")),
        "doc_id",
    ).drop("_x")
    return token_budget_pack(ranked, "est_tokens", P.TOKEN_BUDGET).select(
        "doc_id", "bm25", "rank", "est_tokens"
    )


@query(
    "as_of_user_state",
    f"""
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS total_value, max(ts) AS last_ts
    FROM events WHERE ts <= TIMESTAMP '{P.AS_OF_TS}'
    GROUP BY user_id
    """,
)
def as_of_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (`as_of`) state reconstruction (SURVEY P2/T5):
    per-user aggregate of only the events visible at T."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.col("ts") <= F.lit(P.AS_OF_TS).cast("timestamp"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
    )


@query(
    "profile_stats_users",
    """
    SELECT user_id, count(*) AS total_events,
           round(sum(value), 2) AS total_value,
           CAST(sum(len(props)) AS BIGINT) AS total_props_length,
           count(DISTINCT event_type) AS n_event_types
    FROM events GROUP BY user_id
    """,
)
def profile_stats_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent-profile rolling stats (SURVEY A2: avg importance / content
    length / totals per agent), recomputed as one batch aggregation."""
    e = _t(spark, sf_dir, "events")
    # sums not averages: the corpus's 2-decimal values averaged over a
    # power-of-two count land EXACTLY on round-half boundaries where
    # engine rounding diverges; sums are boundary-safe at 2dp
    return e.groupBy("user_id").agg(
        F.count("*").alias("total_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.sum(F.length("props")).cast("long").alias("total_props_length"),
        F.countDistinct("event_type").alias("n_event_types"),
    )


@query(
    "rollup_revenue",
    """
    SELECT r.r_name, n.n_name, round(sum(o.o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy aggregation (region → nation → grand total) —
    the OLAP cube surface the reference lacks but Spark gives free."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )


@query(
    "pivot_event_values",
    """
    SELECT user_id,
           round(sum(value) FILTER (event_type = 'click'), 2)    AS click,
           round(sum(value) FILTER (event_type = 'error'), 2)    AS error,
           round(sum(value) FILTER (event_type = 'purchase'), 2) AS purchase,
           round(sum(value) FILTER (event_type = 'signup'), 2)   AS signup,
           round(sum(value) FILTER (event_type = 'view'), 2)     AS view
    FROM events GROUP BY user_id
    """,
)
def pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide) on event_type with per-user value sums."""
    e = _t(spark, sf_dir, "events")
    out = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.round(F.sum("value"), 2))
    )
    return out


@query(
    "tumbling_event_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def tumbling_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch analog of the Structured
    Streaming windowed agg in mnemo_spark.streaming; SURVEY §2.7)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))


@query(
    "multimodal_binary_meta",
    """
    SELECT doc_id, octet_length(encode(text)) AS n_bytes,
           sha256(text) AS content_sha256,
           CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_chunks
    FROM documents
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: opaque bytes + typed
    metadata (byte length, content digest, fixed-size chunk count) —
    the schema/partitioning layer under the decode/feature UDFs in
    operators.multimodal (which stub the actual codecs)."""
    d = _t(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(blob).alias("n_bytes"),
        # sha over the text (UTF-8) — DuckDB 1.0 lacks sha256(BLOB)
        F.sha2(F.col("text"), 256).alias("content_sha256"),
        F.ceil(F.octet_length(blob) / F.lit(256.0)).cast("long").alias("n_chunks"),
    )


@query(
    "conflict_composite_events",
    f"""
    WITH mx AS (SELECT max(ts) AS now_ts FROM events),
    s AS (SELECT e.event_id, e.event_type, e.value,
                 ((epoch_us(mx.now_ts) - epoch_us(e.ts)) / 1000000.0) / 3600.0 AS age_h
          FROM events e CROSS JOIN mx)
    SELECT event_id,
           round(0.3 * (CASE event_type WHEN 'purchase' THEN 1.0 WHEN 'signup' THEN 0.9
                        WHEN 'click' THEN 0.5 WHEN 'view' THEN 0.4 ELSE 0.2 END)
                 + 0.2 * pow(2.0, -age_h / {P.DECAY_HALF_LIFE_HOURS})
                 + 0.2 * least(ln(1.0 + value) / 5.0, 1.0)
                 + 0.2 * 0.5
                 + 0.1 * 0.0, 6) AS evidence_score
    FROM s
    """,
)
def conflict_composite_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conflict-evidence composite (SURVEY A8, query/conflict.rs:45-80):
    0.3·source_reliability + 0.2·recency + 0.2·usage + 0.2·importance
    + 0.1·similarity, with the reliability CASE lookup."""
    e = _t(spark, sf_dir, "events")
    now = e.agg(F.max("ts").alias("now_ts"))
    j = e.crossJoin(F.broadcast(now))
    age_h = (
        (F.unix_micros(F.col("now_ts")) - F.unix_micros(F.col("ts"))).cast("double")
        / F.lit(1.0e6)
    ) / F.lit(3600.0)
    reliability = (
        F.when(F.col("event_type") == "purchase", 1.0)
        .when(F.col("event_type") == "signup", 0.9)
        .when(F.col("event_type") == "click", 0.5)
        .when(F.col("event_type") == "view", 0.4)
        .otherwise(0.2)
    )
    usage = F.least(F.log1p(F.col("value")) / F.lit(5.0), F.lit(1.0))
    recency = F.pow(F.lit(2.0), -age_h / F.lit(P.DECAY_HALF_LIFE_HOURS))
    return j.select(
        "event_id",
        F.round(
            0.3 * reliability + 0.2 * recency + 0.2 * usage + 0.2 * F.lit(0.5)
            + 0.1 * F.lit(0.0),
            6,
        ).alias("evidence_score"),
    )


@query(
    "assign_chain_events",
    """
    WITH h AS (
      SELECT user_id, ts, event_id,
             sha256(concat_ws('|', event_id::VARCHAR, event_type,
                              CAST(value AS DECIMAL(18,2))::VARCHAR)) AS ch
      FROM events),
    arr AS (SELECT user_id, list(ch ORDER BY ts, event_id) AS hashes,
                   list(event_id ORDER BY ts, event_id) AS ids
            FROM h GROUP BY user_id),
    idx AS (SELECT user_id, hashes, ids,
                   unnest(range(1, len(hashes) + 1)) AS i
            FROM arr),
    expanded AS (
      SELECT user_id, ids[i] AS event_id,
             CASE WHEN i = 1 THEN ''
                  ELSE list_reduce(list_prepend('', list_slice(hashes, 1, i - 1)),
                                   (acc, x) -> sha256(concat(x, acc))) END AS prev_hash,
             list_reduce(list_prepend('', list_slice(hashes, 1, i)),
                         (acc, x) -> sha256(concat(x, acc))) AS chain_hash
      FROM idx)
    SELECT user_id, event_id, prev_hash, chain_hash FROM expanded
    """,
)
def assign_chain_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row hash-chain assignment (SURVEY W7, remember.rs:100-111):
    the one inherently sequential operator — applyInPandas per user
    partition, parallel across users. Oracle: per-row prefix folds."""
    from mnemo_spark.io import spread_table
    from mnemo_spark.operators.chain import assign_chain

    # spread_table, not _t: the sha2+decimal-cast projection sits BELOW
    # the fold's exchange, so over the 1-split cached scan it ran 100k
    # rows on ONE core (r13, guide §2.5/§1.2 — the per-row-expensive-
    # consumer pattern io.spread_table exists for)
    e = spread_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.sha2(
            F.concat_ws(
                "|",
                F.col("event_id").cast("string"),
                F.col("event_type"),
                F.col("value").cast("decimal(18,2)").cast("string"),
            ),
            256,
        ).alias("ch"),
    )
    return assign_chain(e, ["user_id"], ["ts", "event_id"], "ch").select(
        "user_id", "event_id", "prev_hash", "chain_hash"
    )


# ---------------------------------------------------------------------------
# Registered query modules (import side effect populates QUERIES/ORACLE)
# ---------------------------------------------------------------------------

from mnemo_spark import (  # noqa: E402,F401
    queries_analytics,
    queries_embed,
    queries_engine,
    queries_interop,
    queries_lifecycle,
    queries_pipeline,
    queries_recall,
    queries_sql,
    queries_text,
    queries_tpch,
)
