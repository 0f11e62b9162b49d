"""Graph expansion / causality traversal (reference J3/J4/J7,
recall.rs:479-555 graph lane, query/causality.rs).

The reference BFS-walks a relations table ≤2 hops with 0.5/hop decay
and a seen-set. Spark-first: a fixed-depth BFS is N self-joins on the
edges DataFrame — each hop one equi-join (shuffle on the join key; at
scale pre-partition/bucket edges by src so hops co-locate), dedup by
min-hop (`groupBy(id).min(hop)`) instead of a driver-side seen-set.

There is one walk, `expand_grouped`; `expand` is its one-group call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROUND_DP = 6


def expand(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 2,
    decay: float = 0.5,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "id",
    bidirectional: bool = False,
    dedup_per_hop: bool = True,
    broadcast_edges: bool = False,
) -> DataFrame:
    """BFS from seed ids along edges, ≤ `hops`, score = decay^hop.

    → (id, hop, score) with hop = min hop reaching the node; seeds
    themselves are hop 0 / score 1. Mirrors the reference's dedup-by-
    first-visit and per-hop decay (recall.rs:479-555).

    One group of `expand_grouped`: the seeds get a constant group
    column, which is dropped from the result. See `expand_grouped` for
    `dedup_per_hop` and `broadcast_edges`."""
    one = seeds.select(F.lit(0).alias("_one"), F.col(seed_col))
    return expand_grouped(
        edges,
        one,
        hops=hops,
        decay=decay,
        src_col=src_col,
        dst_col=dst_col,
        group_col="_one",
        seed_col=seed_col,
        bidirectional=bidirectional,
        dedup_per_hop=dedup_per_hop,
        broadcast_edges=broadcast_edges,
    ).drop("_one")


def expand_grouped(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 2,
    decay: float = 0.5,
    src_col: str = "src",
    dst_col: str = "dst",
    group_col: str = "query_id",
    seed_col: str = "id",
    visible: DataFrame | None = None,
    bidirectional: bool = False,
    dedup_per_hop: bool = True,
    broadcast_edges: bool = False,
) -> DataFrame:
    """BFS for a BATCH of seed sets — one row per (group, reached id)
    at the minimum hop, score = decay^hop (reference recall.rs:479-555
    graph expansion, batched across queries; VERDICT r8 #2).

    seeds: (group_col, seed_col) — each group expands independently
    but in ONE plan: every hop is a single equi-join on the edge key
    with the group id carried through, then a per-(group, id) distinct.
    `visible`: optional (id) frame; each hop's frontier semi-joins it,
    so an invisible node neither surfaces NOR bridges to hop n+1 — the
    same per-record permission check the single-query walk applies.
    Seeds are hop 0 whether or not they are visible.

    First-visit dedup is the final min-hop groupBy: a node reached at
    hop 1 and again at hop 2 scores decay^1, identical to the
    single-query seen-set walk (re-expanding an already-seen node can
    only re-reach nodes already reached at an earlier-or-equal hop, so
    min-hop is unaffected — the seen anti-join is an optimization the
    batch form trades for one fewer shuffle per hop).

    dedup_per_hop=False skips the per-hop distinct (one shuffle per
    hop): right for graphs where paths to a node are unique within a
    hop — e.g. parent-pointer trees — and correct on any graph, since
    the final min-hop groupBy still dedups. broadcast_edges=True
    broadcasts the EDGE table into every hop join — the right plan
    when the edge set itself is small (ACL delegation tables): every
    hop becomes a map-side broadcast join, so with dedup_per_hop=False
    the whole walk chains in ONE job with no per-hop shuffle.

    Pins: in a serving session (`cache.serving_enabled()`) the edge
    frame and every non-final layer go through the tracked cache.
    Each non-final layer is referenced twice — as a union branch of
    the result and as the next hop's input — and those are separate
    DAG subtrees, so unpinned the hop-h prefix re-executes hops−h+1
    times; an unpinned edge derivation (a window or distinct over
    events) re-runs once per hop. The serving lifecycle releases the
    blocks. Outside serving nothing is pinned: a one-shot persist per
    call leaks one block set per call in a long-lived engine.

    Scale: shuffles are per-hop equi-joins on the edge key over
    (groups × frontier) rows. Never corpus × groups — frontiers are
    seed-bounded and (with dedup_per_hop) dedup'd per hop.
    """
    from mnemo_spark import cache

    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
    if bidirectional:
        e = e.unionByName(
            edges.select(F.col(dst_col).alias("_s"), F.col(src_col).alias("_d"))
        )
    if hops > 1:
        e = cache.cached_persist(e, "graph_edges", compact=True)
    if broadcast_edges:
        e = F.broadcast(e)
    vis = (
        visible.select(F.col(visible.columns[0]).alias("_id")).distinct()
        if visible is not None
        else None
    )
    frontier = (
        seeds.select(
            F.col(group_col).alias("_g"), F.col(seed_col).alias("_id")
        )
        .distinct()
        .withColumn("hop", F.lit(0))
    )
    layers = [frontier]
    for h in range(1, hops + 1):
        frontier = frontier.join(e, frontier["_id"] == e["_s"]).select(
            "_g", F.col("_d").alias("_id")
        )
        if dedup_per_hop:
            frontier = frontier.distinct()
        if vis is not None:
            frontier = frontier.join(vis, "_id", "left_semi")
        frontier = frontier.withColumn("hop", F.lit(h))
        if h < hops:
            frontier = cache.cached_persist(
                frontier, "graph_layer", h, hops, compact=True
            )
        layers.append(frontier)
    all_nodes = layers[0]
    for l in layers[1:]:
        all_nodes = all_nodes.unionByName(l)
    return (
        all_nodes.groupBy("_g", "_id")
        .agg(F.min("hop").alias("hop"))
        .withColumn("score", F.round(F.pow(F.lit(decay), F.col("hop")), ROUND_DP))
        .select(
            F.col("_g").alias(group_col),
            F.col("_id").alias(seed_col),
            "hop",
            "score",
        )
    )


def trace_causality(
    events: DataFrame,
    root_ids: DataFrame,
    max_depth: int = 4,
    id_col: str = "id",
    parent_col: str = "parent_event_id",
    direction: str = "down",
) -> DataFrame:
    """Walk the event DAG from roots (reference J7, causality.rs).

    direction 'down' follows children (parent_col == frontier id),
    'up' follows ancestors, 'both' combines the two walks and
    deduplicates by event id at the minimum depth
    (causality.rs:12-18 TraceDirection). → (id, depth). Traverses
    THROUGH non-matching nodes like the reference; event_type output
    filters compose on top of the result.
    """
    if direction == "both":
        up = trace_causality(events, root_ids, max_depth, id_col, parent_col, "up")
        down = trace_causality(
            events, root_ids, max_depth, id_col, parent_col, "down"
        )
        return (
            up.unionByName(down)
            .groupBy(id_col)
            .agg(F.min("depth").alias("depth"))
        )
    edges = events.select(F.col(id_col).alias("_id"), F.col(parent_col).alias("_p"))
    if direction == "down":
        e = edges.select(F.col("_p").alias("_s"), F.col("_id").alias("_d"))
    else:
        e = edges.select(F.col("_id").alias("_s"), F.col("_p").alias("_d"))
    # parent-pointer DAG: following parents, each node advances to at
    # most one next node, so per-hop dedup is redundant going up
    return expand(
        e.filter(F.col("_s").isNotNull() & F.col("_d").isNotNull()),
        root_ids,
        hops=max_depth,
        decay=1.0,
        src_col="_s",
        dst_col="_d",
        seed_col=id_col,
        dedup_per_hop=(direction == "down"),
    ).select(id_col, F.col("hop").alias("depth"))


def expand_bitemporal(
    edges: DataFrame,
    seeds: DataFrame,
    as_of,
    hops: int = 2,
    decay: float = 0.5,
    src_col: str = "src",
    dst_col: str = "dst",
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    seed_col: str = "id",
) -> DataFrame:
    """Bitemporal BFS (reference J4, mnemo-graph/src/lib.rs:50-80):
    traverse only edges whose validity interval contains `as_of`
    (valid_from <= as_of < valid_to; open-ended NULL valid_to means
    still valid). The interval predicate prunes BEFORE the hop joins,
    so expired edges never shuffle."""
    t = F.lit(as_of).cast("timestamp")
    live = edges.filter(
        (F.col(valid_from_col) <= t)
        & (F.col(valid_to_col).isNull() | (F.col(valid_to_col) > t))
    )
    return expand(
        live, seeds, hops=hops, decay=decay,
        src_col=src_col, dst_col=dst_col, seed_col=seed_col,
    )
