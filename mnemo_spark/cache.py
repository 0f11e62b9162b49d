"""One serving session per Spark application: every pin, value, table,
prepared plan and broadcast the engine keeps resident between queries.

    with engine.serving():          # or mnemo_spark.cache.serving()
        ... repeated queries ...    # shared work built once, then reused
    # exit → clear(): every session entry released

Outside a serving context nothing is memoized: `cached_persist` returns
its frame untouched, `cached_value` / `session_value` rebuild per call
and the table loaders read parquet afresh, so tests and the oracle see
scan-level pushdown and nothing leaks. `MNEMO_CACHE_TABLES=1` is the
process-wide form of the same switch (the bench harness sets it and
calls `clear(force=True)` between runs).

A `_Session` holds, for one applicationId:
- `pins` — `cached_persist` frames, keyed by (input-plan semanticHash,
  key parts), so semantically-equal requests share one materialization
  instead of leaking a `persist()` per call. They are bounded by a byte
  budget and evicted oldest-first (the reference's LRU record cache,
  cache.rs:1-196);
- `tables` — table and spread-table pins (`cached_table`), never evicted;
- `oneshot` — `track_pin` handles of pins made outside serving, one per
  distinct plan, so `clear()` can still reclaim them;
- `values` — driver-side values (`cached_value`, `session_value`),
  including the registry's prepared plans;
- `broadcasts` — kernel broadcasts, the newest `_BROADCAST_LIMIT` kept.

Keying by applicationId means a frame bound to a stopped session is never
handed to a restarted one. One re-entrant lock guards the serving depth
and the sessions, for the multi-engine / multi-threaded server this
targets; JVM work (analysis, persist, unpersist) runs outside it, so a
hit never waits behind another thread's build. `clear()` is a
warn-and-no-op while ANY serving context is open — an engine calling
`release()` must not unpersist frames a sibling engine's open session
relies on. `force=True` (or exiting the last context) drains.
"""

from __future__ import annotations

import contextlib
import math
import os
import threading
import warnings

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame

# what a stopped or foreign Spark session raises, raw or converted
JVM_ERRORS = (Py4JError, PySparkException)

# the strong refs in `broadcasts` exist so serving exit can reclaim
# EXECUTOR copies, but an unbounded list would also stop GC and the
# ContextCleaner from reclaiming per-query broadcasts mid-session. Past
# the cap the oldest handle is unpersisted (not destroyed: a running
# plan that still reads it re-fetches from the driver) and dropped.
_BROADCAST_LIMIT = 64


class _Session:
    """Everything resident for one applicationId (see module doc)."""

    def __init__(self) -> None:
        self.pins: dict[tuple, DataFrame] = {}  # insertion order = LRU
        self.tables: dict[tuple, DataFrame] = {}
        self.oneshot: dict[object, DataFrame] = {}
        self.values: dict[tuple, object] = {}
        self.broadcasts: list = []
        self.warned = False  # over-budget warning given once per session

    def handles(self) -> list:
        return [
            *self.pins.values(),
            *self.tables.values(),
            *self.oneshot.values(),
            *self.broadcasts,
        ]


_LOCK = threading.RLock()
_SESSIONS: dict[str | None, _Session] = {}
_SERVING = 0  # nesting depth of active serving() contexts


def _session(app_id: str | None) -> _Session:
    """The session of app_id, created on first use. Mutate what it
    returns only under _LOCK, and look it up again there: `clear()`
    may have dropped it meanwhile."""
    with _LOCK:
        return _SESSIONS.setdefault(app_id, _Session())


def _plan_key(df: DataFrame) -> tuple[str, int]:
    return (
        df.sparkSession.sparkContext.applicationId,
        df._jdf.queryExecution().analyzed().semanticHash(),
    )


def _unpersist(handles, blocking: bool = False) -> None:
    """Release frames and broadcasts; the blocks of a stopped session
    died with it."""
    for h in handles:
        try:
            if blocking:
                h.unpersist(True)
            else:
                h.unpersist()
        except JVM_ERRORS:
            pass


def track_broadcast(bc) -> None:
    """Register a sparkContext.broadcast made inside a query kernel (the
    dense-lane query matrix, the IVF probe map) so serving exit reclaims
    its executor copies — a long-lived server whose prepared plans
    retain frames would otherwise pin their closures indefinitely. At
    most `_BROADCAST_LIMIT` are held; past it the oldest is unpersisted
    at once."""
    if not serving_enabled():
        return  # short-lived process: broadcasts die with it
    sc = getattr(bc, "_sc", None)
    evicted = []
    with _LOCK:
        bcs = _session(sc.applicationId if sc is not None else None).broadcasts
        bcs.append(bc)
        while len(bcs) > _BROADCAST_LIMIT:
            evicted.append(bcs.pop(0))
    _unpersist(evicted)  # blocking JVM work runs outside the lock


def track_pin(df: DataFrame, storage_level=None) -> DataFrame:
    """Persist df OUTSIDE a serving session but keep the handle where
    `clear()` can reclaim it (a bare one-shot persist has no release
    path for the life of the Spark session). Keyed on the plan's
    semantic hash, as Spark's CacheManager dedupes plan-equal persists,
    so a long-lived process holds one handle per DISTINCT pinned plan.
    Callers that can bound a pin's lifetime themselves
    (materialize-then-release) should unpersist directly."""
    try:
        app_id, key = _plan_key(df)
    except JVM_ERRORS:
        app_id, key = None, id(df)
    with _LOCK:
        _session(app_id).oneshot.setdefault(key, df)
    if storage_level is not None:
        return df.persist(storage_level)
    return df.persist()


def serving_enabled() -> bool:
    """True when shared work should be memoized: inside a `serving()`
    context, or process-wide under MNEMO_CACHE_TABLES=1."""
    return _SERVING > 0 or os.environ.get("MNEMO_CACHE_TABLES", "") == "1"


@contextlib.contextmanager
def serving():
    """Scoped serving session: memoize shared work for the duration,
    release it all on exit. Re-entrant — only the outermost exit
    clears, and under MNEMO_CACHE_TABLES=1 the sessions outlive context
    exits, since the bench harness owns clearing in that mode."""
    global _SERVING
    with _LOCK:
        _SERVING += 1
    try:
        yield
    finally:
        with _LOCK:
            _SERVING -= 1
            drain = _SERVING == 0 and os.environ.get(
                "MNEMO_CACHE_TABLES", ""
            ) != "1"
        if drain:
            clear()


def cached_persist(
    df: DataFrame,
    *key_parts,
    key_plan: DataFrame | None = None,
    compact: bool = False,
    max_parts: int | None = None,
) -> DataFrame:
    """Persist df once per (session, plan semanticHash, key_parts) while
    serving; return df untouched otherwise.

    key_plan: hash THIS frame's plan instead of df's own. Needed when
    df's lineage contains a Spark ML transform — every Transformer
    instance wraps a fresh ScalaUDF whose canonical form is NOT stable
    across rebuilds, so df's hash differs for identical programs and
    the cache both misses and leaks a persisted copy per call. Callers
    pass the pre-ML input projection plus key_parts that pin the
    transform's own parameters.

    compact=True sizes the cached layout to the DATA instead of to
    spark.sql.shuffle.partitions: a small index artifact (per-doc
    stats, postings, an edge list) otherwise persists as 32 near-empty
    blocks and every downstream scan schedules 32 near-empty tasks.
    Partition count = ceil(true size / 64 MiB), capped at the current
    partitioning (narrow coalesce only); at 100 TB the same rule yields
    thousands of partitions. Do NOT use for frames feeding Arrow/Python
    folds (see session.py's parallelismFirst note).

    max_parts additionally caps the compact layout when the CALLER
    knows the frame is small but Catalyst's estimate is inflated (a
    write-path plan whose FlatMapGroupsInPandas/join lineage inherits
    the child scan's size): a ~5 MB store cached as 34 near-empty
    blocks paid ~34 Python-worker round-trips per mapInPandas pass."""
    if not serving_enabled():
        return df
    try:
        app_id, plan_hash = _plan_key(key_plan if key_plan is not None else df)
    except JVM_ERRORS:
        return df
    key = (plan_hash, *key_parts)
    with _LOCK:
        hit = _session(app_id).pins.get(key)
    if hit is not None:
        return hit
    from mnemo_spark import params as P

    if compact:
        df = _size_coalesced(df, max_parts=max_parts)
    pinned = _pin(df, app_id, P.SERVING_CACHE_BUDGET_BYTES)
    with _LOCK:
        existing = _session(app_id).pins.setdefault(key, pinned)
    if existing is pinned:
        return pinned
    # Two threads raced the same miss; this one lost. CacheManager
    # uncaches by logical-plan EQUALITY, so when the loser's frame is
    # semantically identical to the winner's, unpersisting it would
    # drop the winner's just-pinned blocks too — and since hits return
    # the stored handle without re-checking storageLevel, that key
    # would silently serve full recompute for the rest of the session.
    # Only unpersist when the plans genuinely differ (a key_plan
    # caller whose ML lineage canonicalizes differently per build).
    try:
        same_plan = _plan_key(pinned) == _plan_key(existing)
    except JVM_ERRORS:
        same_plan = True  # when in doubt, keep blocks
    if not same_plan:
        _unpersist([pinned])
    return existing


def _memo(app_id: str, kind: str, key: tuple, build):
    """build() stored once under key in the `kind` store of app_id's
    session. Two racing builders both run and the first store wins, so
    `build` must be pure given the key."""
    with _LOCK:
        store = getattr(_session(app_id), kind)
        if key in store:
            return store[key]
    val = build()
    with _LOCK:
        return getattr(_session(app_id), kind).setdefault(key, val)


def session_value(spark, key: tuple, build):
    """build() memoized under key in spark's session while serving;
    rebuilt per call otherwise."""
    if not serving_enabled():
        return build()
    return _memo(spark.sparkContext.applicationId, "values", key, build)


def cached_value(build, *key_parts, key_plan: DataFrame):
    """Driver-side twin of cached_persist for corpus-only NON-frame
    artifacts — an ANN codebook ndarray, a store row count — memoized
    per (session, key_plan semanticHash, key_parts) while serving.
    These are statistics OF the corpus, so a semantically-equal corpus
    plan may share them; a store mutation changes the plan and so the
    key."""
    if not serving_enabled():
        return build()
    try:
        app_id, plan_hash = _plan_key(key_plan)
    except JVM_ERRORS:
        return build()
    return _memo(app_id, "values", (plan_hash, *key_parts), build)


def cached_table(spark, key: tuple, build) -> DataFrame:
    """build() persisted once per (session, key) while serving, and
    never evicted by the budget: the table loaders' scans. Returns
    build() unpersisted otherwise. A racing plan-equal persist is a
    no-op in Spark's CacheManager."""
    if not serving_enabled():
        return build()
    return _memo(
        spark.sparkContext.applicationId, "tables", key, lambda: build().persist()
    )


def drop_tables() -> None:
    """Unpersist and drop every session's table pins, serving or not."""
    with _LOCK:
        frames = []
        for s in _SESSIONS.values():
            frames += s.tables.values()
            s.tables = {}
    _unpersist(frames)


def drop_values(tag) -> None:
    """Drop every session's values whose key starts with tag, serving
    or not (the registry's prepared plans)."""
    with _LOCK:
        for s in _SESSIONS.values():
            s.values = {k: v for k, v in s.values.items() if k[0] != tag}


def _size_coalesced(
    df: DataFrame,
    target_bytes: int = 64 << 20,
    max_parts: int | None = None,
) -> DataFrame:
    """Narrow-coalesce df to ceil(size / target_bytes) partitions.
    Catalyst's estimate for post-aggregation plans inherits the child
    scan size — an overestimate, so the error direction keeps MORE
    partitions than ideal. max_parts is the caller's own knowledge
    overriding the estimate — see cached_persist."""
    try:
        est = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        parts = max(1, math.ceil(est / target_bytes))
        if max_parts is not None:
            parts = min(parts, max_parts)
        # Cross-check the ESTIMATE against AQE's runtime answer:
        # Catalyst's sizeInBytes for explode/agg lineages inflates by
        # orders of magnitude (the bm25 tf artifact: 85 KB true, ~274 GB
        # estimated → parts=4380, a no-op coalesce over 32 near-empty
        # blocks). df.rdd compiles the adaptive plan AND EXECUTES its
        # upstream shuffle stages — work the persisted df.coalesce()
        # plan does NOT reuse (exchange reuse never spans separate
        # executions), so every compact-pin miss pays the upstream
        # stages twice: an accepted once-per-pin cost for a layout sized
        # to the TRUE bytes. Skipped for a bare scan / local relation,
        # whose file-size-based estimate is already honest.
        try:
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            has_stage = any(
                k in plan
                for k in ("Aggregate", "Join", "Window", "Sort",
                          "Repartition", "Generate", "Distinct")
            )
            if has_stage:
                parts = min(parts, max(1, df.rdd.getNumPartitions()))
        except JVM_ERRORS:  # the probe is best-effort
            pass
        # ALWAYS coalesce, even when df.rdd already reports `parts`: a
        # PERSISTED plan materializes WITHOUT AQE's output-partitioning
        # changes (canChangeCachedPlanOutputPartitioning=false), so the
        # pin would otherwise keep shuffle.partitions near-empty blocks
        # (the 200-row consent subject universe pinned as 32 blocks;
        # its 3-lane union scheduled 96 near-empty tasks per execution).
        # coalesce never increases partition count.
        return df.coalesce(parts)
    except JVM_ERRORS:  # layout tuning is best-effort
        return df


def _pin(df: DataFrame, app_id: str, budget_bytes: int) -> DataFrame:
    """Persist df MEMORY_AND_DISK (an over-memory corpus spills instead
    of OOMing) under the serving byte budget: while the Spark session's
    cached bytes exceed `budget_bytes`, the oldest tracked pins of this
    session are unpersisted (degrade to recompute); the new entry stays
    — it is the hot one by definition. Bounded reuse, never unbounded
    accumulation. budget_bytes <= 0 means unbounded."""
    from pyspark import StorageLevel

    pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    if budget_bytes <= 0:
        return pinned
    try:
        used = _cached_bytes(df.sparkSession)
        while used > budget_bytes:
            with _LOCK:
                pins = _session(app_id).pins
                victim = pins.pop(next(iter(pins))) if pins else None
            if victim is None:
                break
            _unpersist([victim], blocking=True)
            used = _cached_bytes(df.sparkSession)
        # warn AFTER the loop so running out of victims can't skip it:
        # still over budget means untracked pins dominate
        with _LOCK:
            s = _session(app_id)
            warn = used > budget_bytes and not s.warned
            s.warned = s.warned or warn
        if warn:
            warnings.warn(
                f"session cached bytes exceed the serving budget "
                f"even after evicting tracked entries ({used} > "
                f"{budget_bytes}); untracked pins (table cache) "
                "dominate — raise MNEMO_CACHE_BUDGET_BYTES or "
                "scope serving() more narrowly",
                stacklevel=3,
            )
    except JVM_ERRORS:  # budget enforcement is best-effort
        pass
    return pinned


def _cached_bytes(spark) -> int:
    """Memory+disk bytes of MATERIALIZED cached RDDs in the session. A
    pinned but not-yet-computed frame costs 0 until first use, so
    enforcement happens on the next pin after materialization — the
    same bounded lag as Spark's own storage eviction."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def clear(force: bool = False) -> None:
    """Release every session: unpersist its pins, tables, one-shot pins
    and broadcasts, drop its values and plans. A no-op (with a warning)
    while any serving() context is still active unless force=True.
    Safe with a stopped Spark session."""
    with _LOCK:
        if _SERVING > 0 and not force:
            warnings.warn(
                f"cache.clear() skipped: {_SERVING} serving context(s) "
                "still active — exit them (or pass force=True) to drain",
                stacklevel=2,
            )
            return
        sessions = list(_SESSIONS.values())
        _SESSIONS.clear()
    for s in sessions:
        _unpersist(s.handles())
