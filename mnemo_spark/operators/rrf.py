"""Weighted Reciprocal Rank Fusion (reference A1, query/retrieval.rs:7-29).

The reference fuses ranked lanes (vector / bm25 / recency / graph) as
  score(id) = Σ_lanes  w_lane / (rrf_k + rank_lane(id))
with 1-based ranks (the Rust code enumerates 0-based and adds 1).

One fusion body, `rrf_fuse_grouped`, serves a batch of queries: every
lane carries a group key (the query id) and ranks within it. A single
query is a batch of one — `rrf_fuse` adds a literal group column to
its lanes and calls it. All lanes rank in ONE window pass over a
lane-tagged union and a single groupBy(group, id) sums the
reciprocal-rank contributions, over candidate rows only.

Determinism contract: every lane ranks by (round(score,6) desc,
id asc) so rank assignment — and therefore fused scores — are
bit-identical with the DuckDB oracle.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mnemo_spark import cache
from mnemo_spark.operators.window_ops import _GPART, _const_partition, top_k_ranked

ROUND_DP = 6
DEFAULT_RRF_K = 60

# literal-replication bound for query-independent lanes: past this,
# the exploded literal array strains codegen (ADVICE r8) and the
# broadcast-join replication path is used instead
MAX_LITERAL_GROUPS = 1000

# the literal group column rrf_fuse gives its lanes (a batch of one)
_ONE_GROUP = "_rrf_group"


def _local_group_values(groups: DataFrame, group_col: str) -> list | None:
    """The distinct group ids IF the groups frame is a driver-side
    literal (LocalRelation) — collecting one is driver-only work, no
    Spark job. Returns None for any distributed plan (never collect
    those here), when the plan probe fails in the JVM (the caller
    then replicates through the join), or past MAX_LITERAL_GROUPS."""
    try:
        plan = groups._jdf.queryExecution().optimizedPlan()
    except Py4JError:
        return None
    if plan.getClass().getSimpleName() != "LocalRelation":
        return None
    vals = sorted({r[0] for r in groups.select(group_col).collect()})
    return vals if len(vals) <= MAX_LITERAL_GROUPS else None


def _lane_weight_map(names, weights: dict[str, float]):
    """lane tag → weight as a map literal (missing names default 1.0,
    the reference's equal-weight `auto` mode)."""
    lits = []
    for name in names:
        lits += [F.lit(name), F.lit(float(weights.get(name, 1.0)))]
    return F.create_map(*lits)


def rrf_fuse(
    lanes: dict[str, DataFrame],
    weights: dict[str, float] | None = None,
    rrf_k: int = DEFAULT_RRF_K,
    id_col: str = "doc_id",
    score_col: str = "score",
    limit: int | None = None,
    lane_limit: int | None = None,
) -> DataFrame:
    """Fuse ranked lanes of ONE query → (id, rrf_score, rank).

    lanes: name → DataFrame with (id_col, score_col). Missing weights
    default to 1.0 (the reference's equal-weight `auto` mode).
    lane_limit = the reference's candidate over-fetch (`limit*3` per
    lane, recall.rs:397): only each lane's top-N feed fusion — at
    corpus scale the fusion input is O(lanes·N), not O(corpus). With
    lane_limit=None every lane ranks in full.

    A batch of one: each lane gets a literal group column and
    rrf_fuse_grouped fuses them. The final ranking stays here and
    `limit` is not passed through: a top-k (TakeOrderedAndProject)
    computes partial top-ks per partition, where the per-group final
    window would sort the whole fused set of the one group in one
    task.
    """
    fused = rrf_fuse_grouped(
        {
            name: lane.withColumn(_ONE_GROUP, F.lit(0))
            for name, lane in lanes.items()
        },
        weights,
        rrf_k,
        group_col=_ONE_GROUP,
        id_col=id_col,
        score_col=score_col,
        lane_limit=lane_limit,
    )
    order = [F.desc("rrf_score"), F.asc(id_col)]
    if limit is not None:
        out = top_k_ranked(fused, order, limit)
    else:
        w_final = Window.partitionBy(_GPART).orderBy(*order)
        out = _const_partition(fused).withColumn("rank", F.row_number().over(w_final))
    return out.select(id_col, "rrf_score", "rank")


def rrf_fuse_grouped(
    lanes: dict[str, DataFrame],
    weights: dict[str, float] | None = None,
    rrf_k: int = DEFAULT_RRF_K,
    group_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "score",
    lane_limit: int | None = None,
    limit: int | None = None,
    groups: "DataFrame | list | tuple | None" = None,
    tagged: DataFrame | None = None,
    lane_col: str = "_lane",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """RRF fusion for a BATCH of queries — every lane carries a group
    key (the query id) and ranks are assigned WITHIN each group.

    lanes: name → (group_col, id_col, score_col) DataFrame, one row
    per (query, candidate). → (group_col, id_col, rrf_score[, rank]).

    Ranks per group are 1-based by (round(score, 6) DESC, id ASC).
    lane_limit is the reference's per-lane candidate over-fetch
    (recall.rs:397) applied PER QUERY; limit truncates the fused
    output per query.

    A lane WITHOUT the group column is a query-independent prior
    (recency, document length): it is ranked ONCE and only its ranked
    rows (top lane_limit when set) replicate to every group — never
    corpus × queries. `groups` names the group ids: a list/tuple of
    literal ids (the fixed-batch case) replicates by an exploded
    literal array — no distinct, no broadcast build, no join; a
    DataFrame replicates by a broadcast join (or by the literal array
    when it is a small driver-side LocalRelation).

    tagged: an ALREADY-MELTED long frame (group_col, id_col, lane_col,
    score_col) holding rows for several lanes at once — the shape one
    explode over a wide per-doc score frame produces. Treated exactly
    like grouped `lanes` entries; weights are looked up by the lane
    tag (missing tags weigh 1.0).

    carry_cols: columns riding through fusion to the output (e.g.
    `source` for trust down-weighting) so the caller never joins the
    corpus back. Every lane (tagged and dict, grouped and global)
    must provide each carry column, with consistent values per id —
    first() keeps an arbitrary lane's copy.

    Plan shape. ALL grouped lanes rank in ONE window pass over a
    lane-tagged union, partitioned by (group, lane), instead of one
    window subtree per lane: per-lane windows each paid their own
    exchange + sort + query-stage barrier over the same melted corpus
    projection, and those chained stage barriers (4-6 ms real CPU per
    task) were the warm wall of batch recall.

    With a lane_limit the fusion pays TWO bounded exchanges total:
    every lane — grouped lanes, the pre-melted `tagged` frame, AND
    each query-independent lane (pre-truncated to its corpus-only
    top-N, then replicated per group: bounded rows, never corpus ×
    queries) — unions into one lane-tagged frame ranked by a single
    (group, lane)-partitioned window. That exchange is planted by
    EnsureRequirements so the rank filter keeps its WindowGroupLimit
    PARTIAL mode — every input partition truncates to lane_limit per
    (group, lane) BEFORE the shuffle; an explicit repartition here
    would plan Final-only and let unbounded hit rows concentrate. The
    rank-filtered CANDIDATE set then repartitions once on the group
    id alone, which satisfies (by the subset rule) both the
    (group, id) fusion aggregate and the final per-group rank —
    in-partition sorts, no further exchange. Nothing is corpus-sized
    per task.

    Without a lane_limit, lanes are unbounded: grouped lanes rank
    under a spreading (group, lane) exchange and query-independent
    lanes rank once (one deliberate partition) and replicate
    post-rank — folding them into the grouped window would put
    corpus × queries rows through the exchange.
    """
    weights = weights or {}
    lit_groups = None
    if isinstance(groups, (list, tuple)):
        lit_groups = sorted(set(groups))
        if len(lit_groups) > MAX_LITERAL_GROUPS:
            raise ValueError(
                f"{len(lit_groups)} literal group ids exceed"
                f" MAX_LITERAL_GROUPS={MAX_LITERAL_GROUPS}; pass a"
                " DataFrame instead"
            )
        groups = None
    elif groups is not None:
        lit_groups = _local_group_values(groups, group_col)

    parts: list[DataFrame] = []
    post_rank: list[DataFrame] = []  # pre-ranked contribs (no-limit globals)

    def _tag(df: DataFrame, lane_expr) -> DataFrame:
        return df.select(
            F.col(group_col).alias("_g"),
            F.col(id_col).alias("_id"),
            F.round(F.col(score_col).cast("double"), ROUND_DP).alias("_s"),
            lane_expr.alias("_lane"),
            *[F.col(c) for c in carry_cols],
        )

    if tagged is not None:
        parts.append(_tag(tagged, F.col(lane_col)))

    def _replicate(df: DataFrame, cols: list[str]) -> DataFrame:
        """Cross the (bounded) df with the group-id set: an exploded
        literal array for literal ids. A DataFrame of ids is
        definitionally small (it IS the query batch), so it is
        broadcast into a join on a materialized constant-0 key
        (`_const_partition`'s non-foldable spark_partition_id()*0 — a
        literal key gets constant-folded back into a nested-loop cross
        join): a BroadcastHashJoin with a bounded build side, not the
        BNLJ shape the plan audit treats as a scale smell."""
        if lit_groups is not None:
            return df.select(
                F.explode(
                    F.array(*[F.lit(v) for v in lit_groups])
                ).alias("_g"),
                *cols,
            )
        gsel = groups.select(F.col(group_col).alias("_g")).distinct()
        return (
            _const_partition(df.select(*cols))
            .join(F.broadcast(_const_partition(gsel)), _GPART)
            .drop(_GPART)
        )

    wmap = _lane_weight_map(sorted(set(weights) | set(lanes)), weights)
    for name, lane in lanes.items():
        if group_col in lane.columns:
            parts.append(_tag(lane, F.lit(name)))
            continue
        if groups is None and lit_groups is None:
            raise ValueError(
                f"lane {name!r} has no {group_col!r} column; pass"
                " `groups` to replicate a query-independent lane"
            )
        order = [
            F.desc(F.round(F.col(score_col).cast("double"), ROUND_DP)),
            F.asc(id_col),
        ]
        if lane_limit is not None:
            # corpus-only top-N of the prior — an index artifact under
            # the serving-cache doctrine (like BM25 postings): cache it
            # so warm executions skip the corpus top-k job entirely
            top = top_k_ranked(lane, order, lane_limit, rank_col="_rank")
            top = top.select(
                F.col(id_col).alias("_id"),
                F.round(F.col(score_col).cast("double"), ROUND_DP).alias(
                    "_s"
                ),
                *[F.col(c) for c in carry_cols],
            )
            top = cache.cached_persist(
                top, "rrf_global_lane", name, lane_limit, compact=True
            )
            # replicate the BOUNDED rows per group BEFORE the shared
            # rank window — the window re-derives identical per-group
            # ranks (truncation preserves order), and the lane joins
            # the single-exchange pipeline instead of forcing a
            # partition-destroying union after it
            parts.append(
                _replicate(top, ["_id", "_s", *carry_cols]).select(
                    "_g",
                    "_id",
                    "_s",
                    F.lit(name).alias("_lane"),
                    *carry_cols,
                )
            )
        else:
            # unbounded: rank ONCE over the full lane (deliberate
            # single partition), replicate ranked rows post-window
            w_full = Window.partitionBy(_GPART).orderBy(*order)
            ranked1 = _const_partition(lane).withColumn(
                "_rank", F.row_number().over(w_full)
            ).select(F.col(id_col).alias("_id"), "_rank", *carry_cols)
            w_val = float(weights.get(name, 1.0))
            post_rank.append(
                _replicate(ranked1, ["_id", "_rank", *carry_cols]).select(
                    "_g",
                    "_id",
                    (
                        F.lit(w_val)
                        / (F.lit(float(rrf_k)) + F.col("_rank"))
                    ).alias("_contrib"),
                    *carry_cols,
                )
            )

    contribs: list[DataFrame] = []
    if parts:
        un = parts[0]
        for p in parts[1:]:
            un = un.unionByName(p)
        ranked = un.withColumn(
            "_rank",
            F.row_number().over(
                Window.partitionBy("_g", "_lane").orderBy(
                    F.desc("_s"), F.asc("_id")
                )
            ),
        )
        if lane_limit is not None:
            ranked = ranked.filter(F.col("_rank") <= lane_limit)
        contribs.append(
            ranked.select(
                "_g",
                "_id",
                (
                    F.coalesce(wmap[F.col("_lane")], F.lit(1.0))
                    / (F.lit(float(rrf_k)) + F.col("_rank"))
                ).alias("_contrib"),
                *carry_cols,
            )
        )
    contribs += post_rank
    un = contribs[0]
    for c in contribs[1:]:
        un = un.unionByName(c)
    if lane_limit is not None:
        # contribs are CANDIDATE-sized here (every lane rank-filtered
        # to lane_limit per group — the (group, lane) rank exchange
        # above keeps its map-side WindowGroupLimit PARTIAL bound, so
        # nothing unbounded ever concentrated). One tiny repartition
        # on the group id alone lets both the fusion aggregate and the
        # final per-group rank run exchange-free (subset rule); with
        # unbounded lanes the aggregate keeps its spreading
        # (group, id) exchange instead.
        un = un.repartition("_g")
    fused = un.groupBy("_g", "_id").agg(
        F.round(F.sum("_contrib"), ROUND_DP).alias("rrf_score"),
        *[F.first(c).alias(c) for c in carry_cols],
    )
    out = fused.select(
        F.col("_g").alias(group_col),
        F.col("_id").alias(id_col),
        "rrf_score",
        *carry_cols,
    )
    if limit is not None:
        w_final = Window.partitionBy(group_col).orderBy(
            F.desc("rrf_score"), F.asc(id_col)
        )
        out = out.withColumn("rank", F.row_number().over(w_final)).filter(
            F.col("rank") <= limit
        )
    return out


def max_fuse(
    lanes: dict[str, DataFrame],
    id_col: str = "doc_id",
    score_col: str = "score",
    limit: int | None = None,
) -> DataFrame:
    """Max-score fusion → (id, max_score, rank) (reference AMP router,
    mnemo-amp/src/router.rs `max_fuse`).

    fused(id) = max over lanes of the lane score. Shipped next to RRF
    because the AMP cross-adapter conformance suite uses the pair to
    demonstrate RRF's robustness to a single adversarial rank-0
    injection that max-fusion is fooled by (router.rs:10-13) — one
    poisoned lane saturates max_fuse but shifts an RRF sum by at most
    one reciprocal term. Same single candidate-sized shuffle as
    rrf_fuse.
    """
    unioned = None
    for lane in lanes.values():
        c = lane.select(
            F.col(id_col).alias("_id"),
            F.round(F.col(score_col), ROUND_DP).alias("_s"),
        )
        unioned = c if unioned is None else unioned.unionByName(c)
    fused = unioned.groupBy("_id").agg(F.max("_s").alias("max_score"))
    order = [F.desc("max_score"), F.asc("_id")]
    if limit is not None:
        out = top_k_ranked(fused, order, limit)
    else:
        w_final = Window.partitionBy(_GPART).orderBy(*order)
        out = _const_partition(fused).withColumn("rank", F.row_number().over(w_final))
    return out.select(F.col("_id").alias(id_col), "max_score", "rank")
