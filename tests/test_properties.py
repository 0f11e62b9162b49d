"""Property-style invariants (SURVEY §5 — the reference embeds these
in its test suite):

- evidence selection is PREFIX-ONLY and never reorders
  (query/evidence.rs module contract);
- chain verification catches ANY single-row mutation / deletion /
  reorder (bench/audit_tamper: 100% detection);
- RRF fusion is invariant to lane dict order and monotone in rank;
- MinHash signatures are identical for identical shingle sets.

Hypothesis drives the data; one shared local SparkSession keeps each
example cheap (examples are small by construction — the properties
are about SEMANTICS, not scale).
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from mnemo_spark.operators.chain import assign_chain, verify_chain
from mnemo_spark.operators.rrf import rrf_fuse
from mnemo_spark.operators.window_ops import evidence_budget_prefix

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

scores = st.lists(
    st.floats(min_value=0.01, max_value=10.0, allow_nan=False),
    min_size=1,
    max_size=12,
)


@given(scores=scores, bar=st.floats(min_value=0.1, max_value=20.0))
@SETTINGS
def test_evidence_budget_is_prefix_only(spark, scores, bar):
    ranked = spark.createDataFrame(
        [(i, float(round(s, 3)), i + 1) for i, s in enumerate(
            sorted(scores, reverse=True)
        )],
        "doc_id int, score double, rank int",
    )
    out = evidence_budget_prefix(ranked, "score", bar, max_evidence=len(scores))
    got = [r["rank"] for r in out.orderBy("rank").collect()]
    # a contiguous 1..k prefix, never a reorder or a gap
    assert got == list(range(1, len(got) + 1))
    # prefix is minimal-sufficient: cumulative score of got[:-1] < bar
    vals = {r["rank"]: r["score"] for r in ranked.collect()}
    cum = 0.0
    for rk in got:
        assert cum < bar  # every selected row was still under the bar
        cum += vals[rk]


chain_rows = st.lists(
    st.tuples(st.sampled_from(["a1", "a2"]), st.text("abcdef", min_size=1, max_size=6)),
    min_size=2,
    max_size=10,
)


@given(rows=chain_rows, victim=st.integers(min_value=0, max_value=9))
@SETTINGS
def test_chain_detects_any_mutation(spark, rows, victim):
    df = spark.createDataFrame(
        [
            (agent, i, hashlib.sha256(payload.encode()).hexdigest())
            for i, (agent, payload) in enumerate(rows)
        ],
        "agent string, seq int, h string",
    )
    chained = assign_chain(df, ["agent"], ["seq"], "h").localCheckpoint(eager=True)
    clean = verify_chain(chained, ["agent"], ["seq"], "h")
    assert clean.filter(F.col("n_breaks") > 0).count() == 0

    v = victim % len(rows)
    victim_agent = rows[v][0]
    tampered = chained.withColumn(
        "h",
        F.when(F.col("seq") == v, F.sha2(F.lit("evil"), 256)).otherwise(F.col("h")),
    )
    # skip no-op mutations (payload hash may already equal the forgery
    # only if sha256(payload)==sha256('evil') — impossible)
    report = {r["agent"]: r["n_breaks"] for r in
              verify_chain(tampered, ["agent"], ["seq"], "h").collect()}
    assert report[victim_agent] > 0
    for agent, breaks in report.items():
        if agent != victim_agent:
            assert breaks == 0


@given(
    lane_scores=st.lists(
        st.lists(st.floats(min_value=0.1, max_value=5.0), min_size=3, max_size=6),
        min_size=2,
        max_size=3,
    )
)
@SETTINGS
def test_rrf_invariant_to_lane_order(spark, lane_scores):
    lanes = {}
    for li, ss in enumerate(lane_scores):
        lanes[f"lane{li}"] = spark.createDataFrame(
            [(i, float(round(s, 3))) for i, s in enumerate(ss)],
            "doc_id int, score double",
        )
    fwd = rrf_fuse(dict(lanes), rrf_k=30)
    rev = rrf_fuse(dict(reversed(list(lanes.items()))), rrf_k=30)
    a = [(r["doc_id"], r["rrf_score"]) for r in fwd.orderBy("rank").collect()]
    b = [(r["doc_id"], r["rrf_score"]) for r in rev.orderBy("rank").collect()]
    assert a == b


def test_minhash_identical_docs_collide(spark):
    from mnemo_spark.operators.dedup import minhash_band_pairs

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "totally different words entirely here now")],
        "doc_id int, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["n_bands"] for r in
             minhash_band_pairs(docs, 12, 4).collect()}
    assert pairs.get((1, 2)) == 4  # identical docs share EVERY band
    assert (1, 3) not in pairs and (2, 3) not in pairs


# --- round-4 operator invariants -------------------------------------------

texts = st.lists(
    st.text(
        alphabet="abc XY.@-0123456789\n", min_size=0, max_size=60
    ),
    min_size=1,
    max_size=8,
)


@given(texts=texts)
@SETTINGS
def test_pii_scrub_is_idempotent_and_clean(spark, texts):
    """Scrubbing twice equals scrubbing once, and a scrubbed text has
    zero remaining PII hits — the mask tokens must never re-match."""
    from mnemo_spark.operators.redact import scrub_pii

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    once = scrub_pii(df).select(
        "doc_id", F.col("scrubbed").alias("text")
    )
    twice = scrub_pii(once)
    for r in twice.collect():
        assert r.n_email == 0 and r.n_ssn == 0 and r.n_phone == 0 and r.n_ip == 0
    again = {r.doc_id: r.scrubbed for r in twice.collect()}
    first = {r.doc_id: r.text for r in once.collect()}
    assert again == first


@given(
    toks=st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=24
    )
)
@SETTINGS
def test_token_entropy_bounds(spark, toks):
    """0 ≤ H ≤ log2(n_tokens); H = 0 iff all tokens identical."""
    import math

    from mnemo_spark.operators.textquality import token_entropy

    df = spark.createDataFrame([(0, " ".join(toks))], "doc_id int, text string")
    r = token_entropy(df).collect()[0]
    # entropy_bits is rounded to 6dp — allow the half-quantum overshoot
    assert 0.0 <= r.entropy_bits <= math.log2(r.n_tokens) + 5.1e-7
    if len(set(toks)) == 1:
        assert r.entropy_bits == 0.0


@given(
    counts=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=6)
)
@SETTINGS
def test_source_mixture_weights_normalize(spark, counts):
    """Weights sum to 1 (±rounding) and preserve the n^alpha order."""
    from mnemo_spark.operators.pipeline import source_mixture_weights

    rows = [
        (i * 1000 + j, f"s{i}") for i, n in enumerate(counts) for j in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = source_mixture_weights(df, alpha=0.5).collect()
    assert abs(sum(r.mix_weight for r in out) - 1.0) < 1e-4
    by_n = sorted(out, key=lambda r: r.n)
    for a, b in zip(by_n, by_n[1:]):
        assert a.mix_weight <= b.mix_weight + 1e-9


@given(
    keys=st.lists(st.integers(min_value=0, max_value=6), min_size=1, max_size=10),
    upd_keys=st.lists(st.integers(min_value=0, max_value=6), min_size=0, max_size=6),
)
@SETTINGS
def test_merge_upsert_lww(spark, keys, upd_keys):
    """Result keys = current ∪ updates; every updated key carries the
    update payload when its version is ≥ current (tie → update wins);
    one row per key always."""
    from mnemo_spark.operators.upsert import merge_upsert

    cur = spark.createDataFrame(
        [(k, "cur", 1) for k in set(keys)], "k int, payload string, v int"
    )
    upd = spark.createDataFrame(
        [(k, "upd", 1) for k in set(upd_keys)], "k int, payload string, v int"
    )
    out = merge_upsert(cur, upd, ["k"], "v").collect()
    got = {r.k: r.payload for r in out}
    assert set(got) == set(keys) | set(upd_keys)
    assert len(out) == len(got)
    for k in set(upd_keys):
        assert got[k] == "upd"  # equal version: update side wins the tie


# --- round-4 analytics operator invariants -------------------------------


@given(
    vals=st.lists(
        st.floats(min_value=0.01, max_value=1000.0, allow_nan=False),
        min_size=4,
        max_size=24,
    )
)
@SETTINGS
def test_winsorize_clamp_is_fence_fixed_point(spark, vals):
    """Clamping at fixed p05/p95 fences is a projection onto [lo, hi]:
    re-applying the SAME fences changes nothing, every output lies in
    [lo, hi], and interior values pass through untouched.
    (Re-DERIVING fences from clamped values shrinks them — interpolated
    percentiles move inward — which is why the operator computes
    fences once; this test pins the distinction.)"""
    df = spark.createDataFrame(
        [(i, "t", float(v)) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    fences = df.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )

    def clamp(frame):
        return frame.join(fences, "event_type").select(
            "event_id",
            "event_type",
            F.least(F.greatest("value", F.col("lo")), F.col("hi")).alias("value"),
        )

    once = clamp(df)
    twice = clamp(once)
    a = {r["event_id"]: round(r["value"], 9) for r in once.collect()}
    b = {r["event_id"]: round(r["value"], 9) for r in twice.collect()}
    assert a == b
    f = fences.collect()[0]
    assert all(f["lo"] - 1e-9 <= v <= f["hi"] + 1e-9 for v in a.values())
    for i, v in enumerate(vals):
        if f["lo"] <= v <= f["hi"]:
            assert a[i] == round(v, 9)  # interior values untouched


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@SETTINGS
def test_zorder_key_is_bijective_within_16_bits(spark, pairs):
    """Morton interleave must be a bijection on 16-bit×16-bit inputs:
    distinct (a, b) pairs give distinct z-keys, and the key
    deinterleaves back to (a, b)."""
    from mnemo_spark.queries_analytics import _z_sql

    df = spark.createDataFrame(pairs, "a long, b long")
    rows = df.select(
        "a", "b", F.expr(_z_sql("a", "b")).cast("long").alias("z")
    ).collect()
    assert len({r["z"] for r in rows}) == len(pairs)
    for r in rows:
        a = sum(((r["z"] >> (2 * i)) & 1) << i for i in range(16))
        b = sum(((r["z"] >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (a, b) == (r["a"], r["b"])


@given(
    n=st.integers(min_value=5, max_value=40),
    cut_frac=st.floats(min_value=0.0, max_value=1.0),
)
@SETTINGS
def test_incremental_rollup_invariant_to_cutoff(spark, n, cut_frac):
    """merge(base, delta) must equal the full rollup for ANY cutoff
    position — counts and sums are algebraic, so where the batch
    boundary falls cannot matter."""
    rows = [(i, i % 3, float(i) * 0.5 + 0.25) for i in range(n)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, value double")
    cut = int(n * cut_frac)

    def rollup(frame):
        return frame.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum("value").alias("s")
        )

    merged = (
        rollup(df.filter(F.col("event_id") < cut))
        .unionByName(rollup(df.filter(F.col("event_id") >= cut)))
        .groupBy("user_id")
        .agg(F.sum("n").alias("n"), F.round(F.sum("s"), 6).alias("s"))
    )
    full = df.groupBy("user_id").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("s")
    )
    a = {r["user_id"]: (r["n"], r["s"]) for r in merged.collect()}
    b = {r["user_id"]: (r["n"], r["s"]) for r in full.collect()}
    assert a == b


@given(
    wide=st.lists(
        st.tuples(
            st.one_of(st.none(), st.floats(min_value=0.1, max_value=5.0)),
            st.one_of(st.none(), st.floats(min_value=0.1, max_value=5.0)),
            st.floats(min_value=0.1, max_value=5.0),
        ),
        min_size=1,
        max_size=14,
    ),
    lane_limit=st.integers(min_value=1, max_value=8),
)
@SETTINGS
def test_rrf_fuse_wide_matches_per_lane_path(spark, rrf_reference, wide, lane_limit):
    """A wide per-doc score frame melted with one explode into a
    lane-tagged frame of one literal query (hybrid_recall_docs' shape)
    must fuse EXACTLY like the per-lane rrf_fuse path on the same
    scores, and both like the plain-Python reference — including null
    lane membership and rank ties broken by id."""
    from mnemo_spark.operators.rrf import rrf_fuse_grouped

    rows = [
        (i, None if a is None else round(a, 3),
         None if b is None else round(b, 3), round(c, 3))
        for i, (a, b, c) in enumerate(wide)
    ]
    scored = spark.createDataFrame(
        rows, "doc_id int, s_a double, s_b double, s_c double"
    )
    weights = {"a": 6.0, "b": 3.0, "c": 1.0}
    lane_cols = {"a": "s_a", "b": "s_b", "c": "s_c"}
    entry = F.explode(
        F.array(
            *[
                F.struct(F.lit(name).alias("lane"), F.col(col).alias("score"))
                for name, col in lane_cols.items()
            ]
        )
    )
    tagged = (
        scored.select(F.lit(0).alias("query_id"), "doc_id", entry.alias("_e"))
        .select("query_id", "doc_id", "_e.lane", "_e.score")
        .filter(F.col("score").isNotNull())
    )
    got = {
        r["doc_id"]: r["rrf_score"]
        for r in rrf_fuse_grouped(
            {}, weights, rrf_k=30, group_col="query_id", id_col="doc_id",
            lane_limit=lane_limit, tagged=tagged, lane_col="lane",
        ).collect()
    }
    lanes = {
        name: scored.filter(F.col(col).isNotNull()).select(
            "doc_id", F.col(col).alias("score")
        )
        for name, col in lane_cols.items()
    }
    want = {
        r["doc_id"]: r["rrf_score"]
        for r in rrf_fuse(lanes, weights, rrf_k=30,
                          lane_limit=lane_limit).collect()
    }
    assert got == want
    ref = rrf_reference(
        {
            name: [(r[0], r[k]) for r in rows if r[k] is not None]
            for k, name in enumerate(lane_cols, start=1)
        },
        weights, rrf_k=30, lane_limit=lane_limit,
    )
    assert want == {i: s for i, s, _rank in ref}


# -- distributed global-order operators ≡ naive single-partition forms ----
#
# global_cumsum / global_ntile replace `Window.orderBy(...)` (a
# one-task global sort at scale) with range-partitioned slices plus a
# broadcast offsets frame. The contract is BIT-IDENTICAL results to
# the naive window for any data — duplicates, negatives, sizes that
# do / don't divide the tile count — under any partition count.

cum_vals = st.lists(
    st.integers(min_value=-1000, max_value=1000),
    min_size=1,
    max_size=40,
)


@given(vals=cum_vals, parts=st.integers(min_value=1, max_value=6))
@SETTINGS
def test_global_cumsum_matches_naive_window(spark, vals, parts):
    from pyspark.sql import Window

    from mnemo_spark.operators.window_ops import global_cumsum

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "k int, v double"
    )
    got = {
        r["k"]: (r["cum"], r["tot"])
        for r in global_cumsum(
            df, [F.asc("v"), F.asc("k")], "v", "cum",
            total_col="tot", num_partitions=parts,
        ).collect()
    }
    w = Window.partitionBy(F.lit(0)).orderBy(F.asc("v"), F.asc("k"))
    wt = Window.partitionBy(F.lit(0))
    want = {
        r["k"]: (r["cum"], r["tot"])
        for r in df.withColumn("cum", F.sum("v").over(w))
        .withColumn("tot", F.sum("v").over(wt))
        .collect()
    }
    assert got == want


@given(
    vals=cum_vals,
    n=st.integers(min_value=1, max_value=7),
    parts=st.integers(min_value=1, max_value=6),
)
@SETTINGS
def test_global_ntile_matches_naive_ntile(spark, vals, n, parts):
    from pyspark.sql import Window

    from mnemo_spark.operators.window_ops import global_ntile

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "k int, v double"
    )
    got = {
        r["k"]: r["t"]
        for r in global_ntile(
            df, [F.desc("v"), F.asc("k")], n, "t", num_partitions=parts
        ).collect()
    }
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("v"), F.asc("k"))
    want = {
        r["k"]: r["t"] for r in df.withColumn("t", F.ntile(n).over(w)).collect()
    }
    assert got == want


@given(
    vals=cum_vals,
    k=st.integers(min_value=1, max_value=12),
)
@SETTINGS
def test_top_k_ranked_matches_naive_window_rank(spark, vals, k):
    """top_k_ranked (TakeOrderedAndProject + k-row rank) must equal the
    naive global row_number window filtered to rank<=k — same rows,
    same ranks — for any data and any k (including k > |df|)."""
    from pyspark.sql import Window

    from mnemo_spark.operators.window_ops import top_k_ranked

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "k int, v double"
    )
    order = [F.desc("v"), F.asc("k")]
    got = {
        (r["k"], r["rank"])
        for r in top_k_ranked(df, order, k).collect()
    }
    w = Window.partitionBy(F.lit(0)).orderBy(*order)
    want = {
        (r["k"], r["rank"])
        for r in df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("_g")
        .collect()
    }
    assert got == want


@given(
    n_users=st.integers(min_value=1, max_value=4),
    n_events=st.integers(min_value=1, max_value=18),
)
@SETTINGS
def test_scd2_versions_partition_the_timeline(spark, n_users, n_events):
    """SCD2 invariants per user: versions are 1..n dense, intervals
    are adjacent ([valid_to of v_i] == [valid_from of v_{i+1}]), only
    the LAST version is current (valid_to null), and valid_from is
    non-decreasing — i.e. the version rows partition the timeline with
    no gaps or overlaps (the property as_of reads depend on)."""
    import datetime

    from pyspark.sql import Window

    rows = [
        (
            e,  # event_id
            (e * 7919) % n_users,  # user_id
            "purchase",
            float((e * 13) % 97),
            datetime.datetime(2024, 1, 1) + datetime.timedelta(
                # duplicate timestamps on purpose: event_id tiebreak
                hours=(e * 31) % max(1, n_events // 2)
            ),
        )
        for e in range(n_events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, ts timestamp"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    scd = df.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    ).collect()
    by_user = {}
    for r in scd:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, vs in by_user.items():
        vs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in vs] == list(range(1, len(vs) + 1))
        assert sum(r["is_current"] for r in vs) == 1 and vs[-1]["is_current"]
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to"] == b["valid_from"]  # adjacent: no gap/overlap
            assert a["valid_from"] <= b["valid_from"]
        assert vs[-1]["valid_to"] is None
