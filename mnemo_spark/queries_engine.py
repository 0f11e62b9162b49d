"""Engine-verb queries: oracle-gated tabular surfaces for the store /
lifecycle / versioning verbs that otherwise only run inside
MnemoSparkEngine (reference rows S4-S7, T3-T6, J2/J4/J8, P5/P7).

Each query derives memory-style columns (versions, validity windows,
parent pointers, tiers) deterministically from the driver's testdata
tables, then runs the SAME operator code the engine composes
(operators/upsert.py, operators/graph.py, ...) so the DuckDB oracle
checks the operator semantics — not a parallel reimplementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mnemo_spark.engine import AGENT_ID_RE
from mnemo_spark.operators.graph import expand, expand_bitemporal
from mnemo_spark.operators.upsert import merge_upsert, sync_conflicts
from mnemo_spark.registry import _t, query

# ---------------------------------------------------------------------------
# S4: point lookup
# ---------------------------------------------------------------------------

_LOOKUP_KEYS = (1, 2, 3, 5, 8, 13, 21, 34, 55, 89)
_KEYS_SQL = ", ".join(str(k) for k in _LOOKUP_KEYS)


@query(
    "point_lookup_orders",
    f"""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 2) AS total, o_orderdate
    FROM orders WHERE o_orderkey IN ({_KEYS_SQL})
    """,
)
def point_lookup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 point lookup (engine.py get-by-id path, storage/duckdb.rs
    `get`): a key-set probe that must prune to a handful of row
    groups — the plan is an IN-filter pushed to the parquet scan,
    never a shuffle."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").isin(*_LOOKUP_KEYS))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("total"),
            "o_orderdate",
        )
    )


# ---------------------------------------------------------------------------
# S5: merge upsert (LWW)
# ---------------------------------------------------------------------------


@query(
    "merge_upsert_orders",
    """
    WITH upd AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             round(o_totalprice + 1000.0, 2) AS o_totalprice,
             o_orderdate + INTERVAL 1 DAY AS o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 100 < 3),
    un AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority, 0 AS _src FROM orders
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority, 1 FROM upd),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY o_orderkey ORDER BY o_orderdate DESC, _src DESC) AS rn
      FROM un)
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total, o_orderdate
    FROM r WHERE rn = 1 AND o_orderkey % 100 < 6
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 upsert (operators/upsert.py:21 merge_upsert; reference
    storage/duckdb.rs:136-256 MERGE): a derived update batch overlays
    the current table, newest version per key wins with the update
    side breaking ties — exactly Delta MERGE semantics on a plain
    parquet store. Output mixes updated (key%100<3) and untouched
    (3..5) keys so LWW is observable."""
    orders = _t(spark, sf_dir, "orders")
    upd = orders.filter(F.col("o_orderkey") % 100 < 3).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(F.col("o_totalprice") + 1000.0, 2).alias("o_totalprice"),
        (F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")).alias("o_orderdate"),
        "o_orderpriority",
    )
    merged = merge_upsert(orders, upd, ["o_orderkey"], "o_orderdate")
    return merged.filter(F.col("o_orderkey") % 100 < 6).select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total"),
        "o_orderdate",
    )


# ---------------------------------------------------------------------------
# T4: LWW sync conflict surfacing
# ---------------------------------------------------------------------------


@query(
    "sync_conflicts_orders",
    """
    WITH l AS (
      SELECT o_orderkey, o_orderdate AS local_version,
             o_orderpriority AS local_payload
      FROM orders WHERE o_orderkey % 50 < 2),
    r AS (
      SELECT o_orderkey,
             o_orderdate + (o_orderkey % 5 - 2) * INTERVAL 1 DAY AS remote_version,
             CASE WHEN o_orderkey % 3 = 0 THEN o_orderpriority
                  ELSE o_orderstatus || '/' || o_orderpriority END AS remote_payload
      FROM orders WHERE o_orderkey % 50 < 2)
    SELECT l.o_orderkey, l.local_version, l.local_payload,
           r.remote_version, r.remote_payload,
           CASE WHEN r.remote_version > l.local_version THEN 'remote'
                WHEN r.remote_version < l.local_version THEN 'local'
                ELSE 'tie' END AS winner
    FROM l JOIN r USING (o_orderkey)
    WHERE l.local_payload <> r.remote_payload
    """,
)
def sync_conflicts_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 sync conflicts (operators/upsert.py:48 sync_conflicts;
    reference sync/engine.rs LWW): keys where local and remote both
    hold DIFFERENT payloads, with the version comparison deciding the
    winner. The join is a co-partitioned equi-join on the key."""
    orders = _t(spark, sf_dir, "orders")
    sample = orders.filter(F.col("o_orderkey") % 50 < 2)
    local = sample.select(
        "o_orderkey",
        F.col("o_orderdate").alias("version"),
        F.col("o_orderpriority").alias("payload"),
    )
    remote = sample.select(
        "o_orderkey",
        (
            F.col("o_orderdate")
            + (F.col("o_orderkey") % 5 - 2) * F.expr("INTERVAL 1 DAY")
        ).alias("version"),
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_orderpriority"))
        .otherwise(F.concat_ws("/", "o_orderstatus", "o_orderpriority"))
        .alias("payload"),
    )
    return sync_conflicts(local, remote, ["o_orderkey"], "version", "payload")


# ---------------------------------------------------------------------------
# S6: soft delete + redaction visibility
# ---------------------------------------------------------------------------


@query(
    "soft_delete_events",
    """
    WITH mx AS (SELECT max(ts) AS now_ts FROM events)
    SELECT e.event_id,
           CASE WHEN e.event_type = 'error' OR e.value < 1.0
                THEN 'tombstoned' ELSE 'visible' END AS state,
           CASE WHEN e.event_type = 'error' OR e.value < 1.0
                THEN NULL ELSE e.props END AS props_out,
           CASE WHEN e.event_type = 'error' OR e.value < 1.0
                THEN mx.now_ts END AS deleted_at
    FROM events e CROSS JOIN mx
    """,
)
def soft_delete_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 soft delete (engine.py:630-750 forget/redact; reference
    GDPR redact integration_test.rs:2684): rows matching the forget
    predicate get a tombstone timestamp and a NULLed payload — the
    row itself is never physically removed, so the audit chain stays
    intact. One shuffle-free projection with a broadcast `now`."""
    e = _t(spark, sf_dir, "events")
    now = e.agg(F.max("ts").alias("now_ts"))
    hit = (F.col("event_type") == "error") | (F.col("value") < 1.0)
    return e.crossJoin(F.broadcast(now)).select(
        "event_id",
        F.when(hit, "tombstoned").otherwise("visible").alias("state"),
        F.when(~hit, F.col("props")).alias("props_out"),
        F.when(hit, F.col("now_ts")).alias("deleted_at"),
    )


# ---------------------------------------------------------------------------
# S7 + T3: tier assignment / working-tier auto-TTL
# ---------------------------------------------------------------------------


@query(
    "tier_state_events",
    """
    WITH mx AS (SELECT max(ts) AS now_ts FROM events),
    t AS (
      SELECT e.event_id,
             CASE WHEN e.event_type = 'view' THEN 'working' ELSE 'long_term' END AS tier,
             CASE WHEN e.event_type = 'view'
                  THEN e.ts + INTERVAL 24 HOUR
                  WHEN e.event_type = 'click'
                  THEN e.ts + INTERVAL 7 DAY END AS expires_at,
             e.ts, e.value, mx.now_ts
      FROM events e CROSS JOIN mx)
    SELECT event_id, tier, expires_at,
           CASE WHEN expires_at IS NOT NULL AND expires_at <= now_ts THEN 'expired'
                WHEN value >= 400.0 THEN 'archived'
                ELSE 'hot' END AS state
    FROM t
    """,
)
def tier_state_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 tiering + T3 working-tier auto-TTL (engine.py:767 tier_out,
    engine.py:153-240 working TTL; reference storage/cold.rs:82):
    working-tier rows expire 24h after creation, click rows carry a
    7-day TTL, high-value rows are archive (cold-tier) candidates.
    The tier/state columns are what tier_out partitions cold parquet
    by — pure projection, no shuffle."""
    e = _t(spark, sf_dir, "events")
    now = e.agg(F.max("ts").alias("now_ts"))
    expires = (
        F.when(F.col("event_type") == "view", F.col("ts") + F.expr("INTERVAL 24 HOUR"))
        .when(F.col("event_type") == "click", F.col("ts") + F.expr("INTERVAL 7 DAY"))
    )
    return (
        e.crossJoin(F.broadcast(now))
        .withColumn("tier", F.when(F.col("event_type") == "view", "working").otherwise("long_term"))
        .withColumn("expires_at", expires)
        .select(
            "event_id",
            "tier",
            "expires_at",
            F.when(
                F.col("expires_at").isNotNull() & (F.col("expires_at") <= F.col("now_ts")),
                "expired",
            )
            .when(F.col("value") >= 400.0, "archived")
            .otherwise("hot")
            .alias("state"),
        )
    )


# ---------------------------------------------------------------------------
# T6: logical clock
# ---------------------------------------------------------------------------


@query(
    "logical_clock_events",
    """
    SELECT event_id, user_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS lamport
    FROM events
    """,
)
def logical_clock_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 logical clock (engine.py:266-300 _append_events: per-agent
    sequence extension): each user's events get a dense per-user
    sequence so chain order == append order even under equal
    wall-clock timestamps. One window per user partition — the same
    shuffle the chain fold already pays."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id", F.row_number().over(w).alias("lamport")
    )


# ---------------------------------------------------------------------------
# T5: point-in-time replay at checkpoints
# ---------------------------------------------------------------------------


@query(
    "replay_checkpoints_events",
    """
    WITH bounds AS (
      SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi FROM events),
    cps AS (
      -- floor, not CAST: DuckDB CAST(double→bigint) rounds while Spark
      -- cast truncates; frac as DOUBLE so the driver sees float not DECIMAL
      SELECT CAST(f.frac AS DOUBLE) AS frac,
             make_timestamp(CAST(floor(b.lo + CAST(f.frac AS DOUBLE) * (b.hi - b.lo))
                                 AS BIGINT)) AS cp_ts
      FROM bounds b CROSS JOIN (VALUES (0.25), (0.5), (0.75)) f(frac))
    SELECT c.frac AS checkpoint, e.event_type,
           count(*) AS n, round(sum(e.value), 2) AS total
    FROM events e JOIN cps c ON e.ts <= c.cp_ts
    GROUP BY c.frac, e.event_type
    """,
)
def replay_checkpoints_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 point-in-time replay (engine.py:1558 VersionedEngine.replay;
    reference checkpoint restore): reconstruct aggregate state as of
    three checkpoint timestamps by folding only events at-or-before
    each. The checkpoint frame is 3 rows — broadcast, so the event
    log scans once."""
    e = _t(spark, sf_dir, "events")
    bounds = e.agg(
        F.unix_micros(F.min("ts")).alias("lo"), F.unix_micros(F.max("ts")).alias("hi")
    )
    fracs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    cps = bounds.select(F.explode(fracs).alias("frac"), "lo", "hi").select(
        "frac",
        F.timestamp_micros(
            (F.col("lo") + F.col("frac") * (F.col("hi") - F.col("lo"))).cast("long")
        ).alias("cp_ts"),
    )
    return (
        e.join(F.broadcast(cps), e["ts"] <= cps["cp_ts"])
        .groupBy(F.col("frac").alias("checkpoint"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


# ---------------------------------------------------------------------------
# J2: transitive delegation closure (depth-capped)
# ---------------------------------------------------------------------------


@query(
    "delegation_closure_users",
    """
    WITH RECURSIVE e AS (
      SELECT DISTINCT user_id AS s, CAST(floor(value) AS BIGINT) AS d
      FROM events WHERE event_type = 'signup'),
    walk(id, hop) AS (
      SELECT CAST(v.s AS BIGINT), 0 FROM (VALUES (0),(1),(2),(3),(4)) v(s)
      UNION
      SELECT e.d, w.hop + 1 FROM walk w JOIN e ON e.s = w.id WHERE w.hop < 3)
    SELECT id AS user_id, min(hop) AS hop,
           round(pow(0.5, min(hop)), 6) AS score
    FROM walk GROUP BY id
    """,
)
def delegation_closure_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 transitive delegations (engine.py:1643 delegated_principals;
    reference ACL delegation walk with depth caps): delegation edges
    derived from signup events, expanded ≤3 hops from 5 root
    principals with first-visit dedup. The frontier stays tiny
    relative to the edge table, so each hop broadcasts the frontier
    and the edges never shuffle."""
    e = _t(spark, sf_dir, "events")
    edges = (
        e.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("src"),
            F.floor("value").cast("long").alias("dst"),
        )
        .distinct()
    )
    # 5 seeds on ONE partition: range() defaults to defaultParallelism
    # partitions, and with 4 unioned hop layers that planned 128
    # near-empty tasks whose launch overhead was ~90% of this query's
    # wall time (0.83 s → 0.25 s at sf0.1)
    seeds = spark.range(0, 5, 1, 1).select(
        F.col("id").cast("long").alias("user_id")
    )
    # a delegation table is definitionally small (principals, not
    # events): broadcast the EDGES and skip per-hop dedup, so the
    # whole depth-3 walk chains map-side in a single job — the
    # min-hop groupBy at the end still dedups the result
    return expand(
        edges,
        seeds,
        hops=3,
        decay=0.5,
        seed_col="user_id",
        broadcast_edges=True,
        dedup_per_hop=False,
    ).select("user_id", "hop", "score")


# ---------------------------------------------------------------------------
# J4: bitemporal graph walk
# ---------------------------------------------------------------------------

_BITEMPORAL_AS_OF = "2024-03-01 00:00:00"


@query(
    "bitemporal_walk_events",
    f"""
    WITH RECURSIVE live AS (
      SELECT user_id AS s, CAST(floor(value) AS BIGINT) AS d
      FROM events
      WHERE event_type IN ('click', 'purchase')
        AND ts <= TIMESTAMP '{_BITEMPORAL_AS_OF}'
        AND (CASE WHEN event_type = 'click'
                  THEN ts + INTERVAL 30 DAY END IS NULL
             OR ts + INTERVAL 30 DAY > TIMESTAMP '{_BITEMPORAL_AS_OF}')),
    walk(id, hop) AS (
      SELECT CAST(v.s AS BIGINT), 0 FROM (VALUES (0),(1),(2),(3),(4)) v(s)
      UNION
      SELECT l.d, w.hop + 1 FROM walk w JOIN live l ON l.s = w.id WHERE w.hop < 2)
    SELECT id AS user_id, min(hop) AS hop,
           round(pow(0.5, min(hop)), 6) AS score
    FROM walk GROUP BY id
    """,
)
def bitemporal_walk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 bitemporal walk (operators/graph.expand_bitemporal;
    reference mnemo-graph/src/lib.rs:50-80): only edges whose validity
    interval contains the as-of instant participate — click edges
    expire after 30 days, purchase edges are open-ended. The validity
    predicate prunes BEFORE the hop joins."""
    e = _t(spark, sf_dir, "events")
    edges = e.filter(F.col("event_type").isin("click", "purchase")).select(
        F.col("user_id").alias("src"),
        F.floor("value").cast("long").alias("dst"),
        F.col("ts").alias("valid_from"),
        F.when(
            F.col("event_type") == "click", F.col("ts") + F.expr("INTERVAL 30 DAY")
        ).alias("valid_to"),
    )
    # 1-partition seeds: see delegation_closure_users — default-
    # parallelism seed partitions multiply into near-empty hop tasks
    seeds = spark.range(0, 5, 1, 1).select(
        F.col("id").cast("long").alias("user_id")
    )
    return expand_bitemporal(
        edges, seeds, _BITEMPORAL_AS_OF, hops=2, decay=0.5, seed_col="user_id"
    ).select("user_id", "hop", "score")


# ---------------------------------------------------------------------------
# J8: checkpoint lineage (parent-pointer ancestry)
# ---------------------------------------------------------------------------

_ANCESTRY_DEPTH = 8


@query(
    "lineage_ancestry_events",
    f"""
    WITH r AS (
      SELECT event_id, user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
               AS rd
      FROM events)
    SELECT event_id, CAST(rd - 1 AS INT) AS hop,
           round(pow(0.5, rd - 1), 6) AS score
    FROM r WHERE rd <= {_ANCESTRY_DEPTH + 1}
    """,
)
def lineage_ancestry_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 checkpoint lineage (engine.py:1519 ancestry; reference
    checkpoint parent-pointer walk ≤8): each user's event stream is a
    parent-pointer chain (every event's parent is its predecessor);
    walking ≤8 hops from each head must return exactly the last ≤9
    events — the oracle states that closed form, and the Spark side
    states it too, as one descending window per user (see below)."""
    # r13 (guide §1.1 first-principles, the same path-shortcut applied
    # to recall_batch_graph_docs this round): the parent-pointer graph
    # is a union of disjoint PATHS (each event's sole parent is its
    # predecessor in the per-user stream), so the ≤`hops` walk from
    # each per-user head is EXACTLY the user's last hops+1 events,
    # with hop = position-from-head. One descending window pass states
    # that directly — the binary-lifted expand (3 self-joins + head
    # derivation + two extra windows) solved the general ≤1-out graph,
    # which this relation never is. The generic operator keeps its own
    # gates (graph_expand_2hop, causality/delegation/bitemporal, the
    # BFS-reference property in tests/test_operators.py). Byte-equality
    # with the walk: hop = rd−1 matches min-hop-from-head, score = decay^hop,
    # seeds (rd=1) at hop 0/score 1 — oracle-gated at three SFs.
    e = _t(spark, sf_dir, "events")
    wd = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.select(
            "event_id",
            (F.row_number().over(wd) - 1).alias("hop"),
        )
        .filter(F.col("hop") <= _ANCESTRY_DEPTH)
        .select(
            "event_id",
            "hop",
            F.round(F.pow(F.lit(0.5), F.col("hop")), 6).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# P7: agent-id validation
# ---------------------------------------------------------------------------


@query(
    "agent_id_validation_docs",
    r"""
    WITH cand AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN source
               WHEN 1 THEN source || ' team'
               WHEN 2 THEN ''
               ELSE source || '.v2' END AS agent_id
      FROM documents)
    SELECT doc_id, agent_id,
           regexp_full_match(agent_id, '[A-Za-z0-9._-]{1,256}') AS valid
    FROM cand
    """,
)
def agent_id_validation_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 agent-id validation (engine.py:54 AGENT_ID_RE; reference
    query/mod.rs:42-61): the write-path regex gate evaluated as a
    column — spaces and empty strings reject, dotted/hyphenated forms
    pass. Pure projection; the engine applies the identical predicate
    before every batch write."""
    d = _t(spark, sf_dir, "documents")
    cand = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.col("source"))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.col("source"), F.lit(" team")))
        .when(F.col("doc_id") % 4 == 2, F.lit(""))
        .otherwise(F.concat(F.col("source"), F.lit(".v2")))
        .alias("agent_id"),
    )
    return cand.withColumn("valid", F.col("agent_id").rlike(AGENT_ID_RE))


# ---------------------------------------------------------------------------
# P5: experience-plan recall (signature-token Jaccard gate)
# ---------------------------------------------------------------------------

_PLAN_QUERY = "the fast spark window join over batch stream data"
_PLAN_TOP = 5


@query(
    "recall_plan_docs",
    f"""
    WITH q AS (
      SELECT list_sort(list_distinct(list_filter(
               string_split_regex(lower('{_PLAN_QUERY}'), '[^0-9a-z]+'),
               x -> len(x) >= 3))) AS qt),
    plans AS (
      SELECT doc_id,
             list_sort(list_distinct(list_filter(
               string_split_regex(lower(text), '[^0-9a-z]+'),
               x -> len(x) >= 3))) AS st
      FROM documents WHERE doc_id % 10 = 0),
    j AS (
      SELECT p.doc_id,
             round(CAST(len(list_intersect(p.st, q.qt)) AS DOUBLE)
                   / len(list_distinct(p.st || q.qt)), 6) AS jaccard
      FROM plans p CROSS JOIN q)
    SELECT doc_id, jaccard, rank FROM (
      SELECT doc_id, jaccard,
             row_number() OVER (ORDER BY jaccard DESC, doc_id) AS rank
      FROM j WHERE jaccard >= 0.3)
    WHERE rank <= {_PLAN_TOP}
    """,
)
def recall_plan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 experience-plan recall (engine.py:896 recall_plan; reference
    experience.rs:259-330): stored plans match when the signature-token
    Jaccard against the incoming query clears the threshold; best
    plans win. Signature tokens are ≥3-char alphanumeric runs,
    lowercased, deduped (experience.rs:152-162). The plan library is
    tiny relative to the corpus — the query tokens are plan-time
    literals, so matching is one aggregation-free projection + top-k."""
    d = _t(spark, sf_dir, "documents")
    sig = lambda c: F.array_sort(  # noqa: E731
        F.array_distinct(
            F.filter(
                F.split(F.lower(c), "[^0-9a-z]+"), lambda x: F.length(x) >= 3
            )
        )
    )
    import re

    qt = sorted(
        {t for t in re.split(r"[^0-9a-z]+", _PLAN_QUERY.lower()) if len(t) >= 3}
    )
    qt_col = F.array(*[F.lit(t) for t in qt])
    plans = d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", sig(F.col("text")).alias("st")
    )
    j = plans.select(
        "doc_id",
        F.round(
            F.size(F.array_intersect("st", qt_col)).cast("double")
            / F.size(F.array_union("st", qt_col)),
            6,
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= 0.3)
    # top-k with rank via TakeOrderedAndProject (parallel partial
    # top-k), not a single-partition row_number over every candidate
    from mnemo_spark.operators.window_ops import top_k_ranked

    return top_k_ranked(
        j, [F.desc("jaccard"), F.asc("doc_id")], _PLAN_TOP
    ).select("doc_id", "jaccard", "rank")


# ---------------------------------------------------------------------------
# F14: deterministic UUIDv7 assignment
# ---------------------------------------------------------------------------


@query(
    "uuid7_assign_events",
    r"""
    WITH s AS (
      SELECT event_id,
             lpad(printf('%x', epoch_ms(ts)), 12, '0') AS mh,
             sha256(regexp_replace(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'),
                                   '\.?0+$', '')
                    || '|' || CAST(event_id AS VARCHAR)) AS h
      FROM events WHERE event_id % 10 = 0)
    SELECT event_id,
           substr(mh, 1, 8) || '-' || substr(mh, 9, 4)
           || '-7' || substr(h, 1, 3)
           || '-' || (['8','9','a','b'])[(('0x' || substr(h, 4, 1))::INT % 4) + 1]
           || substr(h, 5, 3)
           || '-' || substr(h, 8, 12) AS uid
    FROM s
    """,
)
def uuid7_assign_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 UUIDv7 (functions/ids.py:22 uuidv7; reference memory.rs:44):
    RFC 9562 layout — 48-bit unix millis, version 7, variant 10,
    deterministic entropy — checked field-by-field against an
    independent SQL reconstruction. Lexicographic uid order is time
    order, which is what chain assignment sorts on."""
    from mnemo_spark.functions.ids import uuidv7

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
    return e.select(
        "event_id", uuidv7(F.col("ts"), F.col("event_id")).alias("uid")
    )


# ---------------------------------------------------------------------------
# F16: orientation-cache distillation
# ---------------------------------------------------------------------------

_ORIENT_BUDGET = 16
_ORIENT_SEP = "\x1f"
_ORIENT_ENTITIES = ["Alpha Beta Gamma", "Delta Engine", "Query Planner Mode", "Spark"]
_ORIENT_ENT_SQL = ", ".join(f"'{s}'" for s in _ORIENT_ENTITIES)


@query(
    "orientation_distill_docs",
    rf"""
    WITH RECURSIVE built AS (
      SELECT doc_id,
             (['{_ORIENT_ENTITIES[0]}','{_ORIENT_ENTITIES[1]}','{_ORIENT_ENTITIES[2]}','{_ORIENT_ENTITIES[3]}'])[CAST(doc_id % 4 AS INT) + 1]
             || ' ' || substr(text, 1, 50 + doc_id % 40)
             || ' MAX_' || CAST(doc_id % 5 AS VARCHAR) || '_LIMIT = '
             || CAST(n_chars AS VARCHAR)
             || ' tail ```
schema: ' || source || '
```' AS t2
      FROM documents WHERE doc_id % 7 = 0),
    ex AS (
      SELECT doc_id,
             regexp_extract_all(t2, '([A-Z][A-Z0-9_]{{2,}}\s*=\s*[^\s,;]+)', 1) AS c,
             regexp_extract_all(t2, '((?:[A-Z][a-z0-9]+ )*[A-Z][a-z0-9]+)', 1) AS en,
             regexp_extract_all(t2, '```([\s\S]*?)```', 1) AS fe
      FROM built),
    frags AS (
      SELECT doc_id,
             list_filter(c, (x, i) -> list_position(c, x) = i)
             || list_filter(en, (x, i) -> list_position(en, x) = i)
             || list_transform(
                  list_filter(fe, (x, i) -> list_position(fe, x) = i),
                  x -> regexp_replace(regexp_replace(x, '^\s+', ''), '\s+$', ''))
               AS fl
      FROM ex),
    step(doc_id, i, remaining, sel) AS (
      SELECT doc_id, 0, {_ORIENT_BUDGET}, CAST([] AS VARCHAR[]) FROM frags
      UNION ALL
      SELECT s.doc_id, s.i + 1,
             CASE WHEN CAST(ceil(len(f.fl[s.i + 1]) / 4.0) AS INT) <= s.remaining
                  THEN s.remaining - CAST(ceil(len(f.fl[s.i + 1]) / 4.0) AS INT)
                  ELSE s.remaining END,
             CASE WHEN CAST(ceil(len(f.fl[s.i + 1]) / 4.0) AS INT) <= s.remaining
                  THEN list_append(s.sel, f.fl[s.i + 1])
                  ELSE s.sel END
      FROM step s JOIN frags f USING (doc_id)
      WHERE s.i < len(f.fl))
    SELECT s.doc_id, array_to_string(s.sel, '{_ORIENT_SEP}') AS distilled
    FROM step s JOIN frags f USING (doc_id)
    WHERE s.i = len(f.fl)
    """,
)
def orientation_distill_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 orientation distillation (functions/orientation.py:40;
    reference query/orientation_cache.rs:1-739): constants → entities
    → fenced blocks extracted, first-occurrence-deduped, then greedily
    packed under a ceil(chars/4) token budget. The corpus text is
    lowercase-synthetic, so an orientation-rich column is constructed
    identically on both sides first. Pure column expressions — the
    greedy fold runs as a JVM-side `aggregate`, no UDF."""
    from mnemo_spark.functions.orientation import distill_orientation

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    ent = F.element_at(
        F.array(*[F.lit(s) for s in _ORIENT_ENTITIES]),
        (F.col("doc_id") % 4).cast("int") + 1,
    )
    t2 = F.concat(
        ent,
        F.lit(" "),
        F.expr("substr(text, 1, 50 + doc_id % 40)"),
        F.lit(" MAX_"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("_LIMIT = "),
        F.col("n_chars").cast("string"),
        F.lit(" tail ```\nschema: "),
        F.col("source"),
        F.lit("\n```"),
    )
    return d.select(
        "doc_id",
        F.array_join(
            distill_orientation(t2, _ORIENT_BUDGET), _ORIENT_SEP
        ).alias("distilled"),
    )


# ---------------------------------------------------------------------------
# U3: harness envelope rendering (gemini_cli lane, relational)
# ---------------------------------------------------------------------------

_ENVELOPE_K = 10


@query(
    "envelope_lines_docs",
    f"""
    WITH ranked AS (
      SELECT doc_id, round(n_chars / 100.0, 3) AS score, text,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
      FROM documents)
    SELECT rank,
           '[' || CAST(rank AS VARCHAR) || '] score='
           || CAST(score AS VARCHAR)
           || ' id=' || CAST(doc_id AS VARCHAR) || ' — '
           || trim(string_split(text, chr(10))[1]) AS line
    FROM ranked WHERE rank <= {_ENVELOPE_K}
    """,
)
def envelope_lines_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 harness envelopes (functions/envelopes.py:26 shape_envelope,
    gemini_cli lane; reference retrieval.rs:487-610): ranked hits
    rendered one pointer line each. The envelope itself collects k
    driver-side rows by design; this query keeps the identical
    formatting relational so the oracle can check it.

    The rank comes from `top_k_ranked` (TakeOrderedAndProject):
    the old `row_number().over(Window.orderBy(...))` form windowed the
    ENTIRE documents table through one task before keeping k — the
    single-partition funnel at 100 TB (caught as a runtime WindowExec
    warning in the sf1x sweep, r7)."""
    from mnemo_spark.operators.window_ops import top_k_ranked

    d = _t(spark, sf_dir, "documents")
    ranked = top_k_ranked(
        d, [F.desc("n_chars"), F.asc("doc_id")], _ENVELOPE_K
    ).withColumn("score", F.round(F.col("n_chars") / 100.0, 3))
    first_line = F.trim(F.element_at(F.split(F.col("text"), "\n"), 1))
    return ranked.select(
        "rank",
        F.concat(
            F.lit("["),
            F.col("rank").cast("string"),
            F.lit("] score="),
            F.col("score").cast("string"),
            F.lit(" id="),
            F.col("doc_id").cast("string"),
            F.lit(" — "),
            first_line,
        ).alias("line"),
    )


# ---------------------------------------------------------------------------
# S11: OTLP span → agent-event roundtrip
# ---------------------------------------------------------------------------


@query(
    "otlp_roundtrip_events",
    """
    SELECT 'agent-' || CAST(user_id AS VARCHAR) AS agent_id,
           lpad(printf('%x', event_id), 32, '0') AS trace_id,
           lpad(printf('%x', event_id), 16, '0') AS span_id,
           CASE WHEN event_type = 'purchase' THEN 'assistant_message'
                WHEN event_type = 'view' THEN 'retrieval_query'
                ELSE 'tool_call' END AS event_type,
           'm-' || CAST(event_id % 3 AS VARCHAR) AS model,
           CAST(event_id % 997 AS BIGINT) AS tokens_input,
           CAST(event_id % 31 AS BIGINT) AS tokens_output,
           CASE WHEN event_id % 5 > 0 THEN CAST(event_id % 5 AS BIGINT) END
             AS latency_ms,
           round(value, 2) AS cost_usd,
           ts
    FROM events WHERE event_id % 4 = 0
    """,
)
def otlp_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 OTLP ingestion (streaming/otlp.py:110 otlp_spans_to_events;
    reference crates/mnemo-rest handlers.rs:712-860): each event is
    serialized into a full OTLP JSON envelope (resource attributes,
    GenAI semantic-convention span attributes, nano timestamps), then
    flattened back through the REAL adapter — the oracle states the
    expected field mapping directly. Covers agent.id resolution, the
    operation-name → event-type table, token/cost attribute pulls and
    the latency guard (end ≤ start → NULL)."""
    from mnemo_spark.streaming.otlp import otlp_spans_to_events

    from mnemo_spark.io import spread_table

    # the envelope build (30-expression concat) + from_json parse are
    # among the most per-row-expensive JVM stages in the registry; read
    # events via the core-count-partitioned cached twin so neither
    # serializes on the main cache's single scan split (r13, guide
    # §2.5 — identity at scale, where the scan has >= cores splits)
    e = spread_table(spark, sf_dir, "events").filter(F.col("event_id") % 4 == 0)
    start_ns = F.unix_micros(F.col("ts")) * 1000
    end_ns = start_ns + (F.col("event_id") % 5) * 1_000_000
    span_name = (
        F.when(F.col("event_type") == "purchase", "chat completion")
        .when(F.col("event_type") == "view", "embeddings run")
        .otherwise("execute_tool step")
    )
    doc = F.concat(
        F.lit('{"resourceSpans":[{"resource":{"attributes":['
              '{"key":"agent.id","value":{"stringValue":"agent-'),
        F.col("user_id").cast("string"),
        F.lit('"}}]},"scopeSpans":[{"spans":[{"traceId":"'),
        F.lpad(F.lower(F.hex(F.col("event_id"))), 32, "0"),
        F.lit('","spanId":"'),
        F.lpad(F.lower(F.hex(F.col("event_id"))), 16, "0"),
        F.lit('","name":"'),
        span_name,
        F.lit('","startTimeUnixNano":"'),
        start_ns.cast("string"),
        F.lit('","endTimeUnixNano":"'),
        end_ns.cast("string"),
        F.lit('","attributes":['
              '{"key":"gen_ai.request.model","value":{"stringValue":"m-'),
        (F.col("event_id") % 3).cast("string"),
        F.lit('"}},{"key":"gen_ai.usage.input_tokens","value":{"intValue":"'),
        (F.col("event_id") % 997).cast("string"),
        F.lit('"}},{"key":"gen_ai.usage.output_tokens","value":{"intValue":"'),
        (F.col("event_id") % 31).cast("string"),
        F.lit('"}},{"key":"gen_ai.usage.cost","value":{"doubleValue":'),
        F.round(F.col("value"), 2).cast("string"),
        F.lit('}}]}]}]}]}'),
    )
    parsed = otlp_spans_to_events(e.select(doc.alias("value")), "value")
    return parsed.select(
        "agent_id",
        "trace_id",
        "span_id",
        "event_type",
        "model",
        "tokens_input",
        "tokens_output",
        "latency_ms",
        F.col("cost_usd"),
        "ts",
    )


# ---------------------------------------------------------------------------
# S12: markdown wiki flush (render side of the round-trip)
# ---------------------------------------------------------------------------


@query(
    "md_flush_docs",
    """
    SELECT 'wiki/' || CAST(doc_id AS VARCHAR) || '.md' AS path,
           md5('---' || chr(10) || 'mnemo_id: doc-' || CAST(doc_id AS VARCHAR)
               || chr(10) || 'agent_id: ' || source
               || chr(10) || 'tags: [' || lang || ', wiki]'
               || chr(10) || '---' || chr(10) || text) AS content_md5
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def md_flush_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 markdown wiki sync, flush direction (sources/md_sync.py:177
    flush_markdown; reference crates/mnemo-md-sync spec.rs): memories
    render back to frontmatter + body wiki files. Memory-shaped rows
    are derived from documents; the oracle re-renders the identical
    contract text. Output carries md5(text) so the compare stays
    row-sized."""
    from mnemo_spark.sources.md_sync import flush_markdown

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    mem = d.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("id"),
        F.col("source").alias("agent_id"),
        F.array(F.col("lang"), F.lit("wiki")).alias("tags"),
        F.lit(None).cast("timestamp").alias("expires_at"),
        F.col("text").alias("content"),
        F.to_json(
            F.struct(
                F.concat(
                    F.lit("wiki/"), F.col("doc_id").cast("string"), F.lit(".md")
                ).alias("md_path")
            )
        ).alias("metadata"),
    )
    return flush_markdown(mem).select(
        "path", F.md5(F.col("text")).alias("content_md5")
    )


# ---------------------------------------------------------------------------
# F3: HMAC read-provenance receipts (no SQL twin: DuckDB's sha256 is
# VARCHAR-only and HMAC needs raw-byte pads — rows-only check; the
# pytest suite covers sign/verify against python stdlib hmac)
# ---------------------------------------------------------------------------


@query("hmac_receipts_events")
def hmac_receipts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 HMAC receipts (functions/crypto.py:40 hmac_receipt /
    verify_receipt; reference provenance.rs:111-188): sign each
    payload, then verify — the output's `valid` column must be
    uniformly true, and any tampered payload false. Arrow-batched
    pandas UDF (no JVM HMAC builtin); non-SQL-expressible because
    DuckDB lacks binary-safe sha256, so the driver records the
    rows-only check."""
    from mnemo_spark.functions.crypto import hmac_receipt, verify_receipt

    sign = hmac_receipt("receipt-key", "k1")
    check = verify_receipt("receipt-key", "k1")
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") % 20 == 0)
    signed = e.select(
        "event_id", "props", sign(F.col("props")).alias("receipt")
    )
    tampered = F.when(
        F.col("event_id") % 100 == 0, F.concat(F.col("props"), F.lit("!"))
    ).otherwise(F.col("props"))
    return signed.select(
        "event_id",
        "receipt",
        check(F.col("props"), F.col("receipt")).alias("valid"),
        check(tampered, F.col("receipt")).alias("valid_after_tamper"),
    )


# ---------------------------------------------------------------------------
# F4: AES-256-GCM roundtrip (no SQL twin: DuckDB has no AES; the IV is
# random per row, so only the decrypt(encrypt(x)) == x identity is
# checkable — rows-only)
# ---------------------------------------------------------------------------


@query("aes_roundtrip_docs")
def aes_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 AES-256-GCM (functions/crypto.py:26; reference
    encryption.rs:14-110): encrypt-then-decrypt must be the identity
    for every row, and the wrapped form must differ from plaintext.
    JVM-side aes_encrypt/aes_decrypt; random IV per row means no SQL
    oracle — rows-only check, pytest pins the envelope layout."""
    from mnemo_spark.functions.crypto import decrypt_content, encrypt_content

    key = "0123456789abcdef0123456789abcdef"  # 32-byte AES-256 key
    d = _t(spark, sf_dir, "documents")
    wrapped = d.select(
        "doc_id", "text", encrypt_content(F.col("text"), key).alias("wrapped")
    )
    return wrapped.select(
        "doc_id",
        (decrypt_content(F.col("wrapped"), key) == F.col("text")).alias("roundtrip_ok"),
        (F.col("wrapped") != F.col("text")).alias("ciphertext_differs"),
    )


# ---------------------------------------------------------------------------
# Graph analytics: triangle counting (beyond walks — the canonical
# multi-join graph aggregate)
# ---------------------------------------------------------------------------


@query(
    "triangle_count_users",
    """
    WITH e0 AS (
      SELECT DISTINCT least(user_id, CAST(floor(value) AS BIGINT)) AS a,
                      greatest(user_id, CAST(floor(value) AS BIGINT)) AS b
      FROM events
      WHERE event_type = 'signup' AND user_id <> CAST(floor(value) AS BIGINT))
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM e0 e1
    JOIN e0 e2 ON e2.a = e1.b
    JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def triangle_count_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the undirected signup graph — two
    equi-joins on canonically ordered edges (a<b<c), each triangle
    counted exactly once. At 100 TB the standard refinement is
    degree-ordering the edge direction so high-degree hubs never fan
    out; the join shape is unchanged."""
    e = _t(spark, sf_dir, "events")
    dst = F.floor("value").cast("long")
    e0 = (
        e.filter((F.col("event_type") == "signup") & (F.col("user_id") != dst))
        .select(
            F.least(F.col("user_id"), dst).alias("a"),
            F.greatest(F.col("user_id"), dst).alias("b"),
        )
        .distinct()
    )
    e1 = e0.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e0.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e0.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return tri.agg(F.count("*").alias("n_triangles"))


# ---------------------------------------------------------------------------
# Poisoning defense: quarantine review listing (reference
# query/mod.rs:321-330 replay_quarantine)
# ---------------------------------------------------------------------------


@query(
    "quarantine_review_events",
    """
    WITH mem AS (
      SELECT CAST(event_id AS VARCHAR) AS id,
             CAST(user_id AS VARCHAR) AS agent_id,
             event_type AS content,
             CASE WHEN event_type = 'view' THEN 'episodic'
                  WHEN event_type = 'click' THEN 'working'
                  ELSE 'semantic' END AS source_type,
             ts AS created_at,
             CASE WHEN value > 450 THEN 'outlier_value'
                  WHEN event_type = 'error' THEN 'error_event' END AS reason,
             CASE WHEN value > 480 THEN ts END AS deleted_at
      FROM events)
    SELECT id, agent_id, content, reason, created_at, source_type, deleted_at
    FROM mem
    WHERE reason IS NOT NULL
      AND created_at >= TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def quarantine_review_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine review listing (reference query/mod.rs:321-330 +
    query/poisoning.rs:268-305 `replay_quarantine`): list quarantined
    records since a cutoff for operator review — the verb a user of
    the poisoning defense hits the first time a quarantine fires.

    The memories frame is derived deterministically from the events
    table (outlier values and error events quarantined; extreme
    outliers also soft-deleted, proving the reference's
    include_deleted visibility), then the ACTUAL engine verb
    `MnemoSparkEngine.replay_quarantine` produces the listing the
    oracle checks. Plan: filter + projection; the only ordering is the
    verb's (created_at, id) review sort."""
    from mnemo_spark import params as P
    from mnemo_spark.engine import MnemoSparkEngine

    e = _t(spark, sf_dir, "events")
    mem = e.select(
        F.col("event_id").cast("string").alias("id"),
        F.col("user_id").cast("string").alias("agent_id"),
        F.col("event_type").alias("content"),
        F.when(F.col("event_type") == "view", "episodic")
        .when(F.col("event_type") == "click", "working")
        .otherwise("semantic")
        .alias("memory_type"),
        F.col("ts").alias("created_at"),
        F.when(F.col("value") > 450, "outlier_value")
        .when(F.col("event_type") == "error", "error_event")
        .alias("quarantined"),
        F.when(F.col("value") > 480, F.col("ts")).alias("deleted_at"),
        F.lit(None).cast("array<string>").alias("tags"),
    )
    engine = MnemoSparkEngine(spark, memories=mem)
    return engine.replay_quarantine(since=P.AS_OF_TS).select(
        "id",
        "agent_id",
        "content",
        "reason",
        "created_at",
        "source_type",
        "deleted_at",
    )


# ---------------------------------------------------------------------------
# v0.5.17 forged-reasoning defense (reference retrieval.rs:216-430)
# ---------------------------------------------------------------------------


@query(
    "reasoning_trust_events",
    """
    WITH mem AS (
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k,
             value
      FROM events),
    withmeta AS (
      SELECT event_id, value,
             CASE WHEN k % 31 = 0 THEN NULL
                  ELSE '{"reasoning_provenance":{"authorship":"' ||
                       CASE k % 5 WHEN 0 THEN 'model_authored'
                                  WHEN 1 THEN 'user_provided'
                                  WHEN 2 THEN 'tool_verified'
                                  WHEN 3 THEN 'injected'
                                  ELSE 'unverified' END || '"}}'
             END AS metadata
      FROM mem),
    judged AS (
      SELECT event_id,
             coalesce(json_extract_string(metadata,
                      '$.reasoning_provenance.authorship'),
                      'unverified') AS authorship,
             value
      FROM withmeta)
    SELECT event_id, authorship,
           authorship IN ('model_authored', 'user_provided', 'tool_verified')
             AS admitted,
           round(CASE WHEN authorship IN ('model_authored', 'user_provided',
                                          'tool_verified')
                      THEN value ELSE value * 0.1 END, 6) AS dw_score
    FROM judged
    """,
)
def reasoning_trust_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v0.5.17 forged-reasoning defense (retrieval.rs:216-430
    ReasoningTrustPolicy; wired into engine.recall via
    operators/poisoning.reasoning_admitted — this query composes the
    SAME expressions): reasoning provenance derived deterministically
    from event props (k%31==0 rows get NO metadata, exercising the
    fail-closed 'unverified' parse), then the policy evaluation —
    admitted under the default trusted set, and the DownWeight-action
    score (x0.1 for untrusted). One projection, no shuffle; at 100 TB
    the quarantine form of the predicate pushes into the scan."""
    from mnemo_spark.operators.poisoning import (
        reasoning_admitted,
        reasoning_authorship,
    )

    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    auth_raw = (
        F.when(k % 5 == 0, "model_authored")
        .when(k % 5 == 1, "user_provided")
        .when(k % 5 == 2, "tool_verified")
        .when(k % 5 == 3, "injected")
        .otherwise("unverified")
    )
    meta = F.when(
        k % 31 != 0,
        F.concat(
            F.lit('{"reasoning_provenance":{"authorship":"'),
            auth_raw,
            F.lit('"}}'),
        ),
    )
    judged = e.select(
        "event_id",
        "value",
        reasoning_authorship(meta).alias("authorship"),
        reasoning_admitted(meta).alias("admitted"),
    )
    return judged.select(
        "event_id",
        "authorship",
        "admitted",
        F.round(
            F.when(F.col("admitted"), F.col("value")).otherwise(
                F.col("value") * 0.1
            ),
            6,
        ).alias("dw_score"),
    )


# ---------------------------------------------------------------------------
# v0.5.0 topic-document synthesis, batch form (reference
# query/consolidate.rs `execute` — the per-request verb generalized to
# every topic in one pass, the same stance batch_bm25 takes vs bm25)
# ---------------------------------------------------------------------------


@query(
    "topic_doc_bodies_events",
    """
    WITH mem AS (
      SELECT CAST(user_id AS VARCHAR) AS topic,
             event_type || ' @ ' ||
               CAST(CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS VARCHAR)
               || 'c' AS content,
             ts, event_id, value
      FROM events WHERE user_id < 40)
    SELECT topic,
           CAST(count(*) AS BIGINT) AS source_count,
           md5('# ' || topic || chr(10) || chr(10) ||
               string_agg(content, chr(10) || chr(10)
                          ORDER BY ts, event_id)) AS body_md5,
           floor(max(value) * 1000000.0 + 0.5) / 1000000.0 AS importance
    FROM mem GROUP BY topic
    """,
)
def topic_doc_bodies_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-document synthesis, BATCH form (reference consolidate.rs
    `execute` builds ONE document per request; the batch engine
    synthesizes EVERY topic's document in one pass — the same
    generalization batch_bm25 makes over per-query BM25). Per topic:
    the deterministic body convention the `consolidate` verb uses —
    '# topic' heading + member contents joined by blank lines in
    (created_at, id) order — plus the max-member importance the verb
    assigns. Bodies are md5-compared (they are corpus-sized strings);
    float content renders as integer cents via floor(v*100 + 0.5) —
    pure IEEE arithmetic both engines compute bit-identically, unlike
    printf-style %.2f (Java HALF_UP on the decimal expansion vs C
    correctly-rounded on the binary value: 450.125 renders '450.13'
    vs '450.12'). Importance uses the same floor rule at 6 digits.

    Plan: one groupBy(topic) with an ordered-struct sort inside the
    aggregate — no window, no self-join; body assembly is per-group
    memory bounded by topic size, the same bound the verb itself has.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    mem = e.select(
        F.col("user_id").cast("string").alias("topic"),
        F.concat(
            F.col("event_type"),
            F.lit(" @ "),
            F.floor(F.col("value") * 100.0 + 0.5).cast("string"),
            F.lit("c"),
        ).alias("content"),
        "ts",
        "event_id",
        "value",
    )
    grouped = mem.groupBy("topic").agg(
        F.count("*").cast("long").alias("source_count"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "content"))
                ),
                lambda s: s["content"],
            ),
            "\n\n",
        ).alias("_body_tail"),
        (F.floor(F.max("value") * 1000000.0 + 0.5) / 1000000.0).alias(
            "importance"
        ),
    )
    return grouped.select(
        "topic",
        "source_count",
        F.md5(
            F.concat(F.lit("# "), F.col("topic"), F.lit("\n\n"), F.col("_body_tail"))
        ).alias("body_md5"),
        "importance",
    )


# ---------------------------------------------------------------------------
# behavioural baseline (reference crates/mnemo-baseline; VERDICT r10 #1)
# ---------------------------------------------------------------------------

from mnemo_spark.baseline import MIN_BASELINE_WINDOWS as _BL_MIN_HIST

_BL_WINDOW_MIN = 1440.0  # daily tumbling windows over the 30-day corpus
_BL_ALPHA = 0.3
_BL_TAMPER_MOD = 97  # deterministic chain tamper: every 97th event


@query(
    "agent_baseline_events",
    f"""
    WITH audit AS (
      SELECT 'agent-' || CAST(user_id AS VARCHAR) AS agent_id,
             CASE WHEN event_type = 'view' THEN 'recall'
                  WHEN event_type = 'purchase' THEN 'write'
                  WHEN event_type = 'error' THEN 'forget'
                  ELSE event_type END AS tool,
             event_id,
             CAST(CAST(json_extract_string(props, '$.k') AS INT) % 8
                  AS VARCHAR) AS ns,
             CASE WHEN lag(event_id) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                    THEN 1
                  WHEN event_id % {_BL_TAMPER_MOD} = 0 THEN 0
                  ELSE 1 END AS ok,
             make_timestamp(CAST(floor(epoch(ts) / 86400) * 86400000000
                                 AS BIGINT)) AS win
      FROM events),
    prof AS (
      SELECT agent_id, win AS window_start, count(*) AS n_ops,
             round(count(*) FILTER (WHERE tool = 'recall') / {_BL_WINDOW_MIN}, 6)
               AS recall_rate_per_min,
             round(count(*) FILTER (WHERE tool = 'write') / {_BL_WINDOW_MIN}, 6)
               AS write_rate_per_min,
             round(count(*) FILTER (WHERE tool = 'forget') / {_BL_WINDOW_MIN}, 6)
               AS forget_rate_per_min,
             round(count(DISTINCT ns) / {_BL_WINDOW_MIN}, 6) AS namespace_fanout,
             round(avg(ok), 6) AS hmac_continuity,
             round(count(*) FILTER (WHERE tool = 'recall') * 1.0 / count(*), 6)
               AS mix_recall,
             round(count(*) FILTER (WHERE tool = 'write') * 1.0 / count(*), 6)
               AS mix_write,
             round(count(*) FILTER (WHERE tool = 'forget') * 1.0 / count(*), 6)
               AS mix_forget
      FROM audit GROUP BY agent_id, win),
    seq AS (
      SELECT *, row_number() OVER (PARTITION BY agent_id
                                   ORDER BY window_start) AS rn
      FROM prof),
    zed AS (
      SELECT *,
             CASE WHEN rn > {_BL_MIN_HIST} THEN
               round((recall_rate_per_min - avg(recall_rate_per_min) OVER p)
                     / greatest(stddev_pop(recall_rate_per_min) OVER p, 1e-6),
                     6)
             ELSE 0.0 END AS z,
             round(pow({1 - _BL_ALPHA}, rn)
                   * (first_value(recall_rate_per_min) OVER aw
                      + {_BL_ALPHA} * sum(recall_rate_per_min
                                          * pow({1 - _BL_ALPHA}, -rn)) OVER aw),
                   6) AS ewma_drift
      FROM seq
      WINDOW p AS (PARTITION BY agent_id ORDER BY window_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             aw AS (PARTITION BY agent_id ORDER BY window_start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT agent_id, window_start, n_ops, recall_rate_per_min,
           write_rate_per_min, forget_rate_per_min, namespace_fanout,
           hmac_continuity, mix_recall, mix_write, mix_forget, z, ewma_drift,
           CASE WHEN abs(z) >= 4 THEN 'Critical'
                WHEN abs(z) >= 3 THEN 'High'
                WHEN abs(z) >= 2 THEN 'Warning'
                WHEN abs(z) >= 1 THEN 'Notice'
                ELSE 'Info' END AS severity
    FROM zed
    """,
)
def agent_baseline_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioural-baseline exporter surface (reference
    crates/mnemo-baseline: profile.rs:11 AgentBaseline,
    anomaly.rs:6-83 z/EWMA Severity ladder — VERDICT r10 missing #1):
    the driver's events map to audit-shaped agent ops (view → recall,
    purchase → write, error → forget; namespaces from the props key;
    a synthetic per-agent hash chain with every {_BL_TAMPER_MOD}th
    event deterministically tampered so continuity is exercised below
    1.0), then the REAL operators run: baseline_profile builds the
    per-(agent, daily-window) profile and baseline_deltas runs the
    z-score + closed-form-EWMA detector over the recall-rate metric,
    laddering severity from the rounded z. The oracle re-states the
    whole program in SQL.

    Plan: one chain-order window over the events, two
    map-side-combinable aggregations keyed (agent, window[, tool]),
    then agent-partition windows over the tiny profile frame — linear
    in audit rows at 100 TB, no corpus joins."""
    from mnemo_spark.baseline import baseline_deltas, baseline_profile

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    h = F.md5(F.col("event_id").cast("string"))
    audit = e.select(
        F.concat(F.lit("agent-"), F.col("user_id").cast("string")).alias(
            "agent_id"
        ),
        F.when(F.col("event_type") == "view", "recall")
        .when(F.col("event_type") == "purchase", "write")
        .when(F.col("event_type") == "error", "forget")
        .otherwise(F.col("event_type"))
        .alias("tool"),
        "ts",
        "event_id",
        (F.get_json_object("props", "$.k").cast("int") % 8)
        .cast("string")
        .alias("ns"),
        h.alias("chain_hash"),
        F.when(F.col("event_id") % _BL_TAMPER_MOD == 0, F.lit("tampered"))
        .otherwise(F.lag(h).over(w))
        .alias("prev_hash"),
    )
    prof = baseline_profile(
        audit,
        agent_col="agent_id",
        tool_col="tool",
        ts_col="ts",
        namespace_col="ns",
        window_minutes=_BL_WINDOW_MIN,
        recall_tools=("recall",),
        write_tools=("write",),
        forget_tools=("forget",),
        prev_hash_col="prev_hash",
        chain_hash_col="chain_hash",
        chain_order_cols=("ts", "event_id"),
    )
    out = baseline_deltas(prof, "recall_rate_per_min", alpha=_BL_ALPHA)
    mix = lambda t: F.coalesce(  # noqa: E731
        F.element_at("tool_mix", t), F.lit(0.0)
    )
    return out.select(
        "agent_id",
        "window_start",
        "n_ops",
        "recall_rate_per_min",
        "write_rate_per_min",
        "forget_rate_per_min",
        "namespace_fanout",
        "hmac_continuity",
        mix("recall").alias("mix_recall"),
        mix("write").alias("mix_write"),
        mix("forget").alias("mix_forget"),
        "z",
        "ewma_drift",
        "severity",
    )
