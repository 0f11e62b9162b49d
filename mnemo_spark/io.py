"""Loaders for the driver-generated parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an sf dir.

All reads go through ``spark.read.parquet`` so Catalyst gets column
pruning + predicate pushdown into the scan for free. At cluster scale
the same loaders work unchanged against a directory of many files; the
per-table partitioning guidance lives with each operator.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from mnemo_spark import cache

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Inside a serving session (`cache.serving()` or MNEMO_CACHE_TABLES=1)
# every table frame is persisted once per session, as a never-evicted
# `tables` entry of the session in mnemo_spark.cache: 40 queries then
# decode each parquet file once instead of 40 times — the role DuckDB's
# buffer pool plays on the oracle side. Off by default: tests assert
# scan-level pushdown/pruning, which an InMemoryTableScan would mask.


def clear_table_cache() -> None:
    """Unpersist and drop every session's table frames (the bench
    harness calls this between runs)."""
    cache.drop_tables()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    return cache.cached_table(
        spark, (sf_dir, name), lambda: _read_table(spark, sf_dir, name)
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet is TIMESTAMP(NANOS), which Spark 4 refuses by
        # default; must be set BEFORE the read, and must not rely on
        # the session factory (the driver builds its own session)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        # ts is parquet TIMESTAMP(NANOS) — surfaced as epoch-nanos long
        # under spark.sql.legacy.parquet.nanosAsLong; truncate to µs
        # exactly like DuckDB's µs-precision timestamp type does.
        if isinstance(df.schema["ts"].dataType, LongType):
            # integer div — epoch-ns exceeds double's 2^53 mantissa
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) columns surface as
    # TIMESTAMP_NTZ under inferTimestampNTZ (Spark 4 default), which
    # unix_micros/epoch math reject. Cast to the session-zoned type:
    # the naive wall-clock value round-trips unchanged in any single
    # session timezone, matching DuckDB's naive TIMESTAMP rendering.
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def spread_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Core-count-partitioned cached twin of `load_table` for per-row-
    EXPENSIVE consumers (r13, guide §2.5 'repartition immediately after
    the read' / §1.2 step 1). A sub-128MB parquet table reads as ONE
    scan split and the table cache pins that layout, so a JSON parse,
    Arrow embed kernel or regex-tokenize stage downstream runs on one
    core until its first exchange. This twin pays the round-robin
    spread ONCE per serving session and caches the wide layout; warm
    executions then run the expensive projection directly on the
    spread blocks — no per-query payload shuffle (measured: a
    query-level repartition re-shuffles the rows on every execution
    and made the JSON-props scan 2.5x WORSE, while a blanket spread of
    the main table cache taxed the other ~150 registry queries' scan
    stages by +13 s total; the selective twin is the shape that wins
    both). Outside a serving session it degrades to repartition-up on
    the plain read (one exchange, still a win for the expensive paths).

    Scale posture: the spread never EXCEEDS defaultParallelism and is
    skipped entirely when the natural scan already has >= that many
    splits — at 100 TB this twin is the identity."""
    df = load_table(spark, sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= cores:
            return df
    except cache.JVM_ERRORS:  # layout probe is best-effort
        return df
    return cache.cached_table(
        spark, (sf_dir, name, "spread"), lambda: df.repartition(cores)
    )


def repartition_for_fold(df: DataFrame, *part_cols: str) -> DataFrame:
    """Pin the exchange feeding a Python/Arrow group fold at the
    session's configured shuffle parallelism (r13, guide §4/§2.5).
    AQE sizes post-shuffle partitions by BYTES, and a narrow
    (key, hash) projection looks tiny — the exchange feeding
    assign_chain's applyInPandas was coalesced to 7 of 32 cores while
    being the most CPU-expensive stage in the suite (the same failure
    session.py's parallelismFirst note records from r9, resurfacing
    through the advisory path). An explicit repartition(N, keys) is
    exempt from AQE coalescing, and the following groupBy on the same
    keys with the same partition count reuses the exchange — one pinned
    shuffle, full parallelism. N = spark.sql.shuffle.partitions: the
    caller's cluster-sized reduce parallelism, not a local constant."""
    try:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001 - conf probe is best-effort
        return df
    return df.repartition(n, *part_cols)


def fold_partitions(
    df: DataFrame,
    part_cols,
    order_cols,
    group_fn,
    schema: str,
) -> DataFrame:
    """Run an order-sensitive per-group pandas fold as ONE Arrow
    stream per PARTITION instead of one per group (r13, guide §4.1).

    groupBy(...).applyInPandas ships every group as its own Arrow
    round-trip to the Python worker; REST task metrics showed the
    chain-fold stage's tasks spending ~95% of executorRunTime blocked
    on that per-group IPC (~15 ms per group × ~47 groups/task) while
    the fold itself used ~40 ms CPU. Here the rows are hash-
    partitioned on the group key (all rows of a key land in one
    partition), sorted by (key, order) within the partition, and
    mapInPandas streams whole-partition batches; group boundaries are
    found vectorized and `group_fn` runs per contiguous slice — same
    fold function, three orders of magnitude fewer boundary crossings.
    A group spanning an Arrow batch boundary is carried and folded
    once complete, so results are identical at any batch size.

    group_fn: pdf (one complete group, rows in partition sort order)
    → pdf matching `schema`. The partition count is pinned at
    spark.sql.shuffle.partitions exactly like repartition_for_fold —
    cluster-parameterised, exempt from AQE byte-based coalescing."""
    import numpy as np
    import pandas as pd

    part_cols = list(part_cols)
    order_cols = list(order_cols)
    try:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001 - conf probe is best-effort
        n = 200
    df = df.repartition(n, *part_cols).sortWithinPartitions(
        *part_cols, *order_cols
    )

    def run(batches):
        pending: list = []  # slices of the group still open at a batch edge
        pending_key = None

        def key_at(pdf: pd.DataFrame, i: int):
            return tuple(
                None if pd.isna(v) else v
                for v in (pdf[c].iloc[i] for c in part_cols)
            )

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cur = pdf[part_cols]
            prev = cur.shift()
            neq = cur.ne(prev) & ~(cur.isna() & prev.isna())
            changed = neq.any(axis=1).to_numpy()
            changed[0] = True
            bounds = np.flatnonzero(changed)
            outs = []
            for bi, start in enumerate(bounds):
                end = bounds[bi + 1] if bi + 1 < len(bounds) else len(pdf)
                seg = pdf.iloc[start:end]
                is_last = end == len(pdf)
                k = key_at(pdf, start)
                if pending and k == pending_key:
                    pending.append(seg)
                    if not is_last:
                        outs.append(group_fn(pd.concat(pending, ignore_index=True)))
                        pending, pending_key = [], None
                    continue
                if pending:
                    outs.append(group_fn(pd.concat(pending, ignore_index=True)))
                    pending, pending_key = [], None
                if is_last:
                    pending, pending_key = [seg], k
                else:
                    outs.append(group_fn(seg.reset_index(drop=True)))
            if outs:
                yield pd.concat(outs, ignore_index=True)
        if pending:
            yield group_fn(pd.concat(pending, ignore_index=True))

    return df.mapInPandas(run, schema=schema)


def broadcast_if_small(df: DataFrame, cap_bytes: int = 256 << 20) -> DataFrame:
    """`F.broadcast` gated on Catalyst's size estimate (ADVICE r9): a
    hard hint BYPASSES autoBroadcastJoinThreshold, so hinting an
    unbounded-cardinality frame (a vocabulary table, part-cardinality
    marginals) can hit the broadcast size cap or OOM the driver at
    larger scale factors. Hint only when the optimizer's sizeInBytes
    estimate fits under `cap_bytes`; otherwise return the frame
    unhinted and let AQE decide from TRUE runtime shuffle stats — AQE
    already converts to a broadcast join when the actual build side is
    small. Catalyst's estimate for post-aggregation plans inherits the
    child's size (an upper bound), so the fallthrough direction is the
    safe one: a genuinely-small frame missed here still broadcasts via
    AQE; a genuinely-huge frame is never force-broadcast."""
    try:
        est = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # noqa: BLE001 - estimate is best-effort
        return df
    return F.broadcast(df) if est <= cap_bytes else df


def localize_small(
    df: DataFrame,
    max_rows: int = 1_000_000,
    why: str = "",
    fallback: bool = False,
) -> DataFrame:
    """Materialize a PROVABLY-BOUNDED frame driver-side and hand it
    back as a local relation (r10, VERDICT r9 #1). A Spark plan is a
    TREE: a frame referenced N times recomputes its whole lineage N
    times unless an identical exchange happens to be reused — for a
    small frame that is re-read many times downstream (per-query seed
    sets feeding both a fusion lane and a multi-hop expansion), one
    bounded collect + LocalRelation rebuild replaces N corpus passes,
    and every downstream join against it becomes a STATIC broadcast
    (Catalyst sees the local relation's true size at plan time, where
    the original lineage's estimate was corpus-sized).

    The caller must hold a structural bound on the row count (e.g.
    n_queries × k×3 by a row_number filter); `max_rows` is the driver-
    memory guard — exceeding it raises instead of silently OOMing,
    unless `fallback=True`, where the original lazy frame is returned
    (for callers whose bound scales with request size and for whom
    localization is an optimization, not a requirement).
    NOTE: this triggers one Spark job at plan-build time, the same
    documented behavior as the dense kernel's query-vector collect."""
    # coalesce(1) before the limited collect: CollectLimit scans
    # partitions incrementally (1, 4, 16, ... via limit.scaleUpFactor),
    # which for a 32-partition tiny frame costs up to 4 SEQUENTIAL
    # mini-jobs; a single post-shuffle partition makes it one job.
    # Narrow coalesce only collapses the final stage — upstream
    # exchanges keep their parallelism.
    rows = df.coalesce(1).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        if fallback:
            # caller's bound is a fast-path heuristic, not a contract:
            # hand back the original lazy frame (the pre-localization
            # plan — slower, but correct at any size)
            return df
        raise ValueError(
            f"localize_small: frame exceeds the {max_rows}-row driver "
            f"bound{' (' + why + ')' if why else ''} — the structural "
            "bound the caller claimed does not hold"
        )
    return local_frame(df.sparkSession, [tuple(r) for r in rows], df.schema)


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Single-partition local frame from driver rows, via the Arrow
    path. Two measured pathologies this avoids (r10): a plain
    createDataFrame(list) parallelizes into defaultParallelism (32)
    pickled slices, so every downstream scan / shuffle-map /
    broadcast-build stage schedules 32 near-empty Python-worker tasks;
    and coalesce(1) over those slices runs all 32 worker spin-ups
    SEQUENTIALLY in one task (~3.5 s for 180 rows). Routing through a
    pandas DataFrame keeps the data JVM-side via one Arrow batch —
    count on the same frame: 0.06 s.

    `schema` may be a StructType or a DDL string (r13 — the literal
    query/window fixture frames in the registry pass DDL)."""
    df = local_relation(spark, rows, schema)
    return df.coalesce(1) if rows else df


def local_relation(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Driver rows as a LocalRelation, via the Arrow path (Spark 4
    builds one from a pandas frame). Collects, distincts and
    projections over it are evaluated on the driver, without a Spark
    job; `local_frame` adds the one-partition coalesce, which makes
    every collect of it a job again. `schema` as in local_frame."""
    import pandas as pd

    if isinstance(schema, str):
        # public API (ADVICE r13: _parse_datatype_string is private and
        # has moved across PySpark versions)
        from pyspark.sql.types import StructType

        schema = StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], schema)
    pdf = pd.DataFrame(rows, columns=[f.name for f in schema.fields])
    return spark.createDataFrame(pdf, schema=schema)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
