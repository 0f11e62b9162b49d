"""Scale/infra operator tests: salted aggregation equivalence, LWW
upsert + sync conflicts, orientation-cache distillation, cold-tier
JSON roundtrip, SQL surface over registered views, streaming
foreachBatch chain append."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from mnemo_spark.functions.orientation import (
    distill_orientation,
    extract_constants,
    extract_entities,
    extract_fenced,
)
from mnemo_spark.io import load_table, register_views
from mnemo_spark.operators.skew import salted_agg
from mnemo_spark.operators.upsert import changes_since, merge_upsert, sync_conflicts


def test_salted_agg_equals_direct(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    direct = {
        r["user_id"]: (r["n"], round(r["total"], 2))
        for r in e.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    salted = {
        r["user_id"]: (r["n"], round(r["total"], 2))
        for r in salted_agg(
            e,
            ["user_id"],
            {"c": F.count("*"), "s": F.sum("value")},
            {"n": F.sum("c"), "total": F.sum("s")},
            salt_buckets=8,
        ).collect()
    }
    assert salted == direct


def test_merge_upsert_lww(spark):
    cur = spark.createDataFrame(
        [("k1", 1, "old"), ("k2", 5, "keep")], ["k", "v", "payload"]
    )
    upd = spark.createDataFrame(
        [("k1", 2, "new"), ("k2", 5, "update-wins-tie"), ("k3", 1, "insert")],
        ["k", "v", "payload"],
    )
    out = {r["k"]: r["payload"] for r in merge_upsert(cur, upd, ["k"], "v").collect()}
    assert out == {"k1": "new", "k2": "update-wins-tie", "k3": "insert"}


def test_changes_since_and_conflicts(spark):
    t = dt.datetime(2024, 1, 10)
    local = spark.createDataFrame(
        [("k1", 3, "a", dt.datetime(2024, 1, 12)), ("k2", 2, "b", dt.datetime(2024, 1, 5))],
        ["k", "v", "payload", "updated_at"],
    )
    remote = spark.createDataFrame(
        [("k1", 4, "a-remote"), ("k2", 2, "b")], ["k", "v", "payload"]
    )
    assert [r["k"] for r in changes_since(local, "updated_at", t).collect()] == ["k1"]
    conf = sync_conflicts(local, remote, ["k"], "v", "payload").collect()
    assert len(conf) == 1 and conf[0]["k"] == "k1" and conf[0]["winner"] == "remote"


def test_orientation_distillation(spark):
    text = (
        "The Mnemo Engine stores memories. MAX_DEPTH = 4 is enforced.\n"
        "```\nschema: id, agent_id\n```\n"
        "Ask Alice Smith about the Paris Region. RETRY_LIMIT=3 applies."
    )
    df = spark.createDataFrame([(text,)], ["t"])
    row = df.select(
        extract_entities(F.col("t")).alias("e"),
        extract_constants(F.col("t")).alias("c"),
        extract_fenced(F.col("t")).alias("f"),
        distill_orientation(F.col("t"), 16).alias("packed"),
    ).collect()[0]
    # sentence-initial capitals join the phrase — the heuristic keeps
    # them (same trade-off as the reference's extractor)
    assert any("Alice Smith" in e for e in row["e"])
    assert "Paris Region" in row["e"]
    assert any(c.startswith("MAX_DEPTH") for c in row["c"])
    assert any(c.startswith("RETRY_LIMIT") for c in row["c"])
    assert row["f"] == ["schema: id, agent_id"]
    # budget respected: ceil(chars/4) of selected ≤ 16
    assert sum(-(-len(x) // 4) for x in row["packed"]) <= 16
    # priority order: constants first
    assert row["packed"][0].startswith("MAX_DEPTH")


def test_cold_tier_json_roundtrip(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    path = str(tmp_path / "cold")
    # S7 cold storage: archived records tier out as JSON
    docs.write.mode("overwrite").partitionBy("lang").json(path)
    back = spark.read.json(path)
    assert back.count() == docs.count()
    a = {r["doc_id"]: r["text"] for r in docs.collect()}
    b = {r["doc_id"]: r["text"] for r in back.collect()}
    assert a == b


def test_sql_surface_matches_dataframe(spark, sf_dir):
    # the engine supersedes the reference's 6-production pgwire SQL
    # subset with full Spark SQL over registered views (SURVEY §3.3)
    register_views(spark, sf_dir)
    got = spark.sql(
        """
        SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    ).collect()
    want = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy("l_returnflag")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_streaming_foreachbatch_chain_append(spark, sf_dir, tmp_path):
    """T1 streaming form: each micro-batch extends per-user hash
    chains via foreachBatch + assign_chain with the carried head."""
    import shutil

    from mnemo_spark.io import table_path
    from mnemo_spark.operators.chain import assign_chain
    from mnemo_spark.streaming.events import read_event_stream

    src = tmp_path / "stream_src"
    src.mkdir()
    shutil.copy(table_path(sf_dir, "events"), src / "p0.parquet")

    state: dict = {"df": None}

    def extend(batch_df, _batch_id):
        hashed = batch_df.withColumn("ch", F.sha2(F.col("event_id").cast("string"), 256))
        heads = None
        if state["df"] is not None:
            prev = state["df"]
            w = (
                prev.groupBy("user_id")
                .agg(F.max(F.struct("ts", "event_id", "chain_hash")).alias("m"))
                .select("user_id", F.col("m.chain_hash").alias("chain_head"))
            )
            heads = w
        chained = assign_chain(hashed, ["user_id"], ["ts", "event_id"], "ch", prev_head=heads)
        out = chained.select("user_id", "ts", "event_id", "chain_hash").localCheckpoint(
            eager=True
        )
        state["df"] = out if state["df"] is None else state["df"].unionByName(out)

    q = (
        read_event_stream(spark, str(src))
        .writeStream.foreachBatch(extend)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = state["df"]
    assert result is not None
    n = result.count()
    assert n > 0
    # chains are well-formed: distinct chain_hash per user row
    per_user = result.groupBy("user_id").agg(
        F.count("*").alias("n"), F.countDistinct("chain_hash").alias("d")
    )
    assert per_user.filter(F.col("n") != F.col("d")).count() == 0


def test_no_driver_id_collection_in_erasure_paths():
    """forget_subject / remember_on / _forget_where must keep their
    predicates in the plan — a .collect() in these paths OOMs the
    driver when an erasure matches millions of rows."""
    import inspect

    from mnemo_spark.engine import MnemoSparkEngine, VersionedEngine

    for fn in (
        MnemoSparkEngine.forget_subject,
        MnemoSparkEngine._forget_where,
        VersionedEngine.remember_on,
    ):
        src = inspect.getsource(fn)
        assert ".collect()" not in src, f"{fn.__qualname__} collects to the driver"


def test_cosine_pairs_refuses_unscoped(spark):
    """Ungrouped cosine_pairs is a full crossJoin; it must refuse to
    run without an explicit opt-in."""
    import pytest as _pytest

    from mnemo_spark.operators.vector import cosine_pairs

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], ["vec_id", "embedding"]
    )
    with _pytest.raises(ValueError, match="group_col"):
        cosine_pairs(df, 0.5)
    # explicit opt-in still works for small inputs
    assert cosine_pairs(df, -1.0, allow_unscoped=True).count() == 1


def test_ngram_jaccard_df_cap_drops_hot_shingle(spark):
    """A boilerplate shingle shared by every doc must not generate
    O(n^2) pairs once the document-frequency cap is on."""
    from mnemo_spark.operators.dedup import ngram_jaccard_pairs

    # 6 docs: all share the same boilerplate sentence; only docs 1,2
    # also share unique content
    boiler = "this is common boilerplate text shared by all documents"
    rows = [(i, f"{boiler} unique{i} alpha{i} beta{i} gamma{i}") for i in range(4)]
    rows += [(10, f"{boiler} same tail words here"), (11, f"{boiler} same tail words here")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = ngram_jaccard_pairs(docs, 0.2, 3, max_df=None)
    capped = ngram_jaccard_pairs(docs, 0.2, 3, max_df=3)
    # uncapped: boilerplate shingles connect every pair above threshold
    assert uncapped.count() > 1
    # capped: boilerplate (df=6 > 3) dropped; only the true near-dup
    # pair (10, 11) survives on its shared tail shingles
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(10, 11)}


def test_forget_subject_redacts_without_collect(spark):
    """End-to-end: subject erasure redacts matching rows, and the
    audit log gains one MemoryRedact event per hit."""
    import datetime as _dt

    from mnemo_spark.engine import MnemoSparkEngine

    t0 = _dt.datetime(2025, 1, 1)
    rows = spark.createDataFrame(
        [
            ("m1", "agent-a", "alice lives in paris", "semantic", "private", 0.5, [], t0),
            ("m2", "agent-a", "bob likes tea", "semantic", "private", 0.5, [], t0),
            ("m3", "agent-b", "alice called bob", "episodic", "private", 0.5, [], t0),
        ],
        "id string, agent_id string, content string, memory_type string, "
        "scope string, importance float, tags array<string>, created_at timestamp",
    )
    eng = MnemoSparkEngine(spark).remember_batch(rows)
    out = eng.forget_subject("alice", strategy="redact", now=t0)
    redacted = out.memories.filter(F.col("content") == "[REDACTED]")
    assert {r.id for r in redacted.collect()} == {"m1", "m3"}
    n_redact_events = out.events.filter(F.col("event_type") == "MemoryRedact").count()
    assert n_redact_events == 2


def test_cached_persist_keyed_by_session_and_clearable(spark, monkeypatch):
    """ADVICE r2: the memoized-persist cache must key on the session
    (stale frames from a stopped session are unusable) and expose
    clear() so bench runs can unpersist between iterations."""
    import mnemo_spark.cache as cache

    monkeypatch.setenv("MNEMO_CACHE_TABLES", "1")
    df = spark.range(10)
    a = cache.cached_persist(df, "unit")
    b = cache.cached_persist(spark.range(10), "unit")
    assert a is b  # semantically-equal plan + same session + same key
    # keyed by the session: the frame lives in this application's entry
    assert a in cache._SESSIONS[spark.sparkContext.applicationId].pins.values()
    cache.clear()
    assert cache._SESSIONS == {}
    assert a.storageLevel.useMemory is False  # actually unpersisted


def test_simhash_salt_grid_matches_unsalted(spark, sf_dir, monkeypatch):
    """Both lanes of simhash_near_dup_pairs' adaptive grid salt return
    the same pairs: a threshold of 0 forces the salt=8 grid, 10**18
    the salt=1 plain band join (the threshold is read at call time)."""
    from mnemo_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    got = {}
    for threshold, salted in ((0, True), (10**18, False)):
        monkeypatch.setattr(dedup, "_SALT_PAIRS", threshold)
        pairs = dedup.simhash_near_dup_pairs(docs, max_hamming=1, bands=2)
        analyzed = pairs._jdf.queryExecution().analyzed().toString()
        assert ("_s1" in analyzed) is salted, threshold
        got[salted] = sorted(tuple(r) for r in pairs.collect())
    assert got[True], "no near-dup pairs: the comparison would be vacuous"
    assert got[True] == got[False]
