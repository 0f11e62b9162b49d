"""MnemoSparkEngine verb-surface tests — the reference's integration
scenarios (crates/mnemo-core/tests/integration_test.rs) re-run
against the batch engine: write→recall roundtrip, permission-safe
recall, scope visibility, share + expiry, forget strategies incl.
redact-preserving-chain, TTL sweep, tamper detection, tier behaviors.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mnemo_spark.engine import MEMORY_SCHEMA, MnemoSparkEngine

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


_ROW_SCHEMA = (
    "id string, agent_id string, content string, memory_type string, "
    "scope string, importance float, tags array<string>, created_at timestamp"
)


def _mk_rows(spark, rows):
    return spark.createDataFrame(rows, _ROW_SCHEMA)


@pytest.fixture(scope="module")
def engine(spark):
    # materialized once (r14): a dozen tests collect from this state;
    # truncating the write-path lineage stops each collect replaying
    # validate→embed→chain→append (guide §7.3, engine.materialized()).
    # Every assertion is unchanged — verbs return new engines, so the
    # fixture state is read-only.
    rows = _mk_rows(
        spark,
        [
            ("m1", "alice", "the capital of france is paris", "semantic", "private", 0.9,
             ["geo"], T0),
            ("m2", "alice", "paris has a big tower", "episodic", "private", 0.5,
             ["geo", "travel"], T0 + dt.timedelta(hours=1)),
            ("m3", "bob", "rust is a systems language", "semantic", "private", 0.7,
             ["code"], T0),
            ("m4", "bob", "publicly known spark fact", "semantic", "public", 0.6,
             ["code"], T0 + dt.timedelta(hours=2)),
            ("m5", "carol", "scratch note about paris", "working", "private", 0.3,
             [], T0),
        ],
    )
    return MnemoSparkEngine(spark).remember_batch(rows).materialized()


def test_write_assigns_hashes_and_chains(engine):
    mems = {r["id"]: r for r in engine.memories.collect()}
    assert len(mems) == 5
    for r in mems.values():
        assert r["content_hash"] and r["chain_hash"]
    # chain links within alice: m2.prev = m1.chain
    assert mems["m2"]["prev_hash"] == mems["m1"]["chain_hash"]
    assert mems["m1"]["prev_hash"] == ""  # genesis
    # independent agents have independent chains
    assert mems["m3"]["prev_hash"] == ""


def test_tier_behaviors(engine):
    mems = {r["id"]: r for r in engine.memories.collect()}
    # working-tier auto-TTL (T3): 1 hour after creation
    assert mems["m5"]["expires_at"] == T0 + dt.timedelta(hours=1)
    assert mems["m1"]["expires_at"] is None


def test_procedural_importance_floor(spark):
    eng = MnemoSparkEngine(spark).remember_batch(
        _mk_rows(spark, [("p1", "a1", "how to deploy", "procedural", "private", 0.2,
                          [], T0)])
    )
    assert eng.memories.collect()[0]["importance"] >= 0.8


def test_validation_rejects_bad_rows(spark):
    with pytest.raises(ValueError):
        MnemoSparkEngine(spark).remember_batch(
            _mk_rows(spark, [("x", "bad agent!", "c", "semantic", "private", 0.5, [], T0)])
        )
    with pytest.raises(ValueError):
        MnemoSparkEngine(spark).remember_batch(
            _mk_rows(spark, [("x", "ok", "c", "unknown_type", "private", 0.5, [], T0)])
        )


def test_visibility_owner_public_acl(engine):
    now = T0 + dt.timedelta(minutes=30)
    # alice sees her own + bob's public memory; not carol's private note
    ids = {r["id"] for r in engine.visible_to("alice", now=now).collect()}
    assert "m1" in ids and "m2" in ids and "m4" in ids
    assert "m3" not in ids and "m5" not in ids
    # share m3 with alice → visible; expired grant → not visible
    shared = engine.share(["m3"], "alice", expires_at=now + dt.timedelta(hours=1))
    assert "m3" in {r["id"] for r in shared.visible_to("alice", now=now).collect()}
    later = now + dt.timedelta(hours=2)
    assert "m3" not in {r["id"] for r in shared.visible_to("alice", now=later).collect()}


def test_recall_is_permission_safe(engine):
    now = T0 + dt.timedelta(minutes=30)
    hits = engine.recall("paris", "alice", strategy="lexical", now=now).collect()
    assert hits, "lexical recall should hit the paris memories"
    assert all(r["agent_id"] in ("alice",) or r["id"] == "m4" for r in hits)
    # bob never sees alice's private paris rows
    bob_hits = engine.recall("paris", "bob", strategy="lexical", now=now).collect()
    assert all(r["agent_id"] == "bob" for r in bob_hits)


def test_recall_strategies(engine):
    now = T0 + dt.timedelta(minutes=30)
    exact = engine.recall("paris has a big tower", "alice", strategy="exact", now=now).collect()
    assert [r["id"] for r in exact] == ["m2"]
    sem = engine.recall("paris tower", "alice", strategy="semantic", now=now).collect()
    assert sem and sem[0]["id"] in ("m1", "m2")
    hyb = engine.recall("paris tower", "alice", strategy="hybrid", now=now).collect()
    assert hyb and hyb[0]["score"] > 0
    with pytest.raises(ValueError):
        engine.recall("x", "alice", strategy="bogus")


def test_forget_strategies(engine):
    now = T0 + dt.timedelta(minutes=30)
    soft = engine.forget(["m2"], "soft", now=now)
    assert "m2" not in {r["id"] for r in soft.visible_to("alice", now=now + dt.timedelta(minutes=1)).collect()}
    hard = engine.forget(["m2"], "hard")
    assert hard.memories.filter(F.col("id") == "m2").count() == 0
    red = engine.forget(["m1"], "redact", now=now)
    r = red.memories.filter(F.col("id") == "m1").collect()[0]
    assert r["content"] == "[REDACTED]"
    assert r["content_hash"] is not None
    # redact preserves the chain (integration_test.rs:2684)
    assert red.verify_integrity().filter(F.col("n_breaks") > 0).count() == 0


def test_ttl_sweep(engine):
    later = T0 + dt.timedelta(hours=3)
    swept = engine.run_ttl_sweep(now=later)
    assert swept.memories.filter(F.col("id") == "m5").count() == 0
    assert swept.memories.count() == 4


def test_tamper_detection(engine):
    # flip one content hash → that agent's chain breaks, others intact
    tampered = engine.memories.withColumn(
        "content_hash",
        F.when(F.col("id") == "m1", F.sha2(F.lit("forged"), 256)).otherwise(
            F.col("content_hash")
        ),
    )
    eng2 = MnemoSparkEngine(engine.spark, tampered, engine.acls)
    report = {r["agent_id"]: r for r in eng2.verify_integrity().collect()}
    assert report["alice"]["n_breaks"] > 0
    assert report["bob"]["n_breaks"] == 0
    # pristine engine verifies clean
    clean = engine.verify_integrity()
    assert clean.filter(F.col("n_breaks") > 0).count() == 0


def test_audit_events_chained_per_verb(engine):
    # strictly after every write ts: equal timestamps would make the
    # recompute order (ts, event_id) differ from append order
    now = T0 + dt.timedelta(hours=3)
    ev = {(r["event_type"], r["memory_id"]): r for r in engine.events.collect()}
    # one MemoryWrite per remembered memory
    assert {m for t, m in ev if t == "MemoryWrite"} == {"m1", "m2", "m3", "m4", "m5"}
    # chains verify clean
    assert engine.verify_event_integrity().filter(F.col("n_breaks") > 0).count() == 0
    # forget appends delete events, chain still verifies (head carry)
    after = engine.forget(["m2"], "soft", now=now)
    types = {(r["event_type"], r["memory_id"]) for r in after.events.collect()}
    assert ("MemoryDelete", "m2") in types
    assert after.verify_event_integrity().filter(F.col("n_breaks") > 0).count() == 0
    # the new event chains onto alice's existing head
    alice = sorted(
        (r for r in after.events.collect() if r["agent_id"] == "alice"),
        key=lambda r: (r["ts"], r["event_id"]),
    )
    assert alice[-1]["event_type"] == "MemoryDelete"
    assert alice[-1]["prev_hash"] == alice[-2]["chain_hash"]


def test_forget_subject_gdpr(engine):
    now = T0 + dt.timedelta(hours=1)
    erased = engine.forget_subject("paris", strategy="redact", now=now)
    remaining = [
        r
        for r in erased.memories.collect()
        if r["content"] is not None and "paris" in r["content"]
    ]
    assert remaining == []
    redacted = {r["id"] for r in erased.memories.filter(F.col("content") == "[REDACTED]").collect()}
    assert redacted == {"m1", "m2", "m5"}
    # chain preserved through redaction
    assert erased.verify_integrity().filter(F.col("n_breaks") > 0).count() == 0


def test_ttl_sweep_emits_expired_events(engine):
    later = T0 + dt.timedelta(hours=3)
    swept = engine.run_ttl_sweep(now=later)
    types = {(r["event_type"], r["memory_id"]) for r in swept.events.collect()}
    assert ("MemoryExpired", "m5") in types
    assert swept.verify_event_integrity().filter(F.col("n_breaks") > 0).count() == 0


def test_delegation_transitive_with_depth_caps(spark):
    from mnemo_spark.engine import DELEGATION_SCHEMA, delegated_principals

    rows = [
        # chain: root -> mid -> leaf (leaf is the acting principal)
        ("root", "mid", "read", 3, None),
        ("mid", "leaf", "read", 3, None),
        # capped chain: far -> near (cap 1) -> leaf; far must NOT reach
        ("near", "leaf", "read", 1, None),
        ("far", "near", "read", 3, None),
        # expired grant: never visible
        ("old", "leaf", "read", 3, T0 - dt.timedelta(days=1)),
    ]
    d = spark.createDataFrame(rows, DELEGATION_SCHEMA)
    got = {r["delegator"]: r["depth"] for r in
           delegated_principals(d, "leaf", now=T0).collect()}
    assert got.get("mid") == 1 and got.get("near") == 1
    assert got.get("root") == 2
    assert "far" not in got  # near's cap=1 stops the chain
    assert "old" not in got  # expired


def test_bitemporal_expand(spark):
    from mnemo_spark.operators.graph import expand_bitemporal

    e = spark.createDataFrame(
        [
            ("a", "b", T0 - dt.timedelta(days=9), None),
            ("b", "c", T0 - dt.timedelta(days=9), T0 - dt.timedelta(days=1)),  # expired
            ("b", "d", T0 - dt.timedelta(days=9), T0 + dt.timedelta(days=1)),  # live
            ("x", "y", T0 + dt.timedelta(days=1), None),  # not yet valid
        ],
        "src string, dst string, valid_from timestamp, valid_to timestamp",
    )
    seeds = spark.createDataFrame([("a",)], ["id"])
    got = {r["id"]: r["hop"] for r in
           expand_bitemporal(e, seeds, T0, hops=2).collect()}
    assert got == {"a": 0, "b": 1, "d": 2}  # c expired, y not yet valid


def test_reconstruct_belief(engine):
    from mnemo_spark.engine import reconstruct_belief

    now = T0 + dt.timedelta(minutes=30)
    hits = engine.recall("paris", "alice", strategy="lexical", now=now)
    summary = reconstruct_belief(hits, max_items=2)
    assert "paris" in summary and " | " in summary


def test_validation_rejects_null_fields(spark):
    """NULL agent_id/memory_type/scope/importance must fail loud —
    every rlike/isin predicate is NULL for NULL input, which would
    silently accept the row without explicit NULL checks."""
    for row in [
        (None, "c", "semantic", "private", 0.5),
        ("a1", "c", None, "private", 0.5),
        ("a1", "c", "semantic", None, 0.5),
        ("a1", "c", "semantic", "private", None),
    ]:
        agent, content, mtype, scope, imp = row
        with pytest.raises(ValueError):
            MnemoSparkEngine(spark).remember_batch(
                spark.createDataFrame(
                    [("x", agent, content, mtype, scope, imp, [], T0)], _ROW_SCHEMA
                )
            )


def test_repeated_verb_event_ids_unique(spark):
    """Soft-forgetting the same memory twice must produce two distinct
    audit events, and the recomputed event chain must still verify
    (duplicate (agent, ts, event_id) keys used to fan out the
    verification join into spurious break reports)."""
    eng = MnemoSparkEngine(spark).remember_batch(
        _mk_rows(spark, [("m1", "a1", "hello", "semantic", "private", 0.5, [], T0)])
    )
    t1 = T0 + dt.timedelta(hours=1)
    t2 = T0 + dt.timedelta(hours=2)
    eng = eng.forget(["m1"], strategy="soft", now=t1).materialized()
    eng = eng.forget(["m1"], strategy="soft", now=t2).materialized()
    ev = eng.events.filter(F.col("event_type") == "MemoryDelete")
    ids = [r["event_id"] for r in ev.collect()]
    assert len(ids) == 2 and len(set(ids)) == 2
    report = eng.verify_event_integrity()
    assert report.filter(F.col("n_breaks") > 0).count() == 0


@pytest.fixture(scope="module", name="conflict_eng")
def _conflict_fixture(spark):
    """Two very similar memories + one unrelated, same agent.

    Module-scoped + materialized (r14): seven tests each paid the
    write-path replay on every action; they only READ this engine
    (verbs return new engines), so one materialized build serves all."""
    rows = _mk_rows(
        spark,
        [
            ("c1", "a1", "the sky is blue today", "semantic", "private", 0.3, ["w"], T0),
            ("c2", "a1", "the sky is blue now", "semantic", "private", 0.9, ["x"],
             T0 + dt.timedelta(hours=1)),
            ("c3", "a1", "completely unrelated topic entirely", "semantic", "private",
             0.5, [], T0),
        ],
    )
    return MnemoSparkEngine(spark).remember_batch(rows).materialized()


def test_detect_conflicts_same_agent_similar_content(conflict_eng):
    eng = conflict_eng
    pairs = eng.detect_conflicts(threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {("c1", "c2")}
    assert pairs[0].similarity >= 0.5


def test_resolve_keep_newest_soft_deletes_older(conflict_eng):
    eng = conflict_eng
    out = eng.resolve_conflicts(eng.detect_conflicts(0.5), "keep_newest", now=T0)
    gone = {r.id for r in out.memories.filter(F.col("deleted_at").isNotNull()).collect()}
    assert gone == {"c1"}  # c2 is newer
    assert out.events.filter(F.col("event_type") == "MemoryDelete").count() == 1


def test_resolve_keep_highest_importance(conflict_eng):
    eng = conflict_eng
    out = eng.resolve_conflicts(
        eng.detect_conflicts(0.5), "keep_highest_importance", now=T0
    )
    gone = {r.id for r in out.memories.filter(F.col("deleted_at").isNotNull()).collect()}
    assert gone == {"c1"}  # c2 importance 0.9 > 0.3


def test_resolve_merge_into_semantic(conflict_eng):
    eng = conflict_eng
    t_res = T0 + dt.timedelta(days=1)
    out = eng.resolve_conflicts(eng.detect_conflicts(0.5), "merge_into_semantic", now=t_res)
    live = {r.id: r for r in out.memories.filter(F.col("deleted_at").isNull()).collect()}
    merged = [r for rid, r in live.items() if rid.startswith("merged-")]
    assert len(merged) == 1
    m = merged[0]
    assert m.content == "the sky is blue today | the sky is blue now"
    assert abs(m.importance - 0.6) < 1e-6  # avg(0.3, 0.9)
    assert m.memory_type == "semantic"
    assert list(m.tags) == ["w", "x"]  # a's tags then b's novel tags
    assert m.content_hash and m.chain_hash  # went through remember_batch
    # both originals soft-deleted, unrelated memory untouched
    gone = {r.id for r in out.memories.filter(F.col("deleted_at").isNotNull()).collect()}
    assert gone == {"c1", "c2"}
    assert "c3" in live


def test_resolve_manual_is_noop(conflict_eng):
    eng = conflict_eng
    out = eng.resolve_conflicts(eng.detect_conflicts(0.5), "manual")
    assert out.memories.filter(F.col("deleted_at").isNotNull()).count() == 0


def test_forget_decay_and_consolidate_strategies(conflict_eng):
    eng = conflict_eng
    # decay: importance -= 0.1 floored at 0 (forget.rs:205-210)
    dec = eng.forget(["c1"], strategy="decay", now=T0).materialized()
    imp = {r.id: r.importance for r in dec.memories.collect()}
    assert abs(imp["c1"] - 0.2) < 1e-6 and abs(imp["c2"] - 0.9) < 1e-6
    # repeated decay floors at 0
    for _ in range(4):
        dec = dec.forget(["c1"], strategy="decay", now=T0).materialized()
    assert {r.id: r.importance for r in dec.memories.collect()}["c1"] == 0.0
    assert dec.events.filter(F.col("event_type") == "MemoryDecay").count() == 5
    # consolidate: state flip only, row stays
    con = eng.forget(["c2"], strategy="consolidate", now=T0)
    states = {r.id: r.consolidation_state for r in con.memories.collect()}
    assert states == {"c1": "active", "c2": "consolidated", "c3": "active"}
    assert con.events.filter(F.col("event_type") == "MemoryConsolidate").count() == 1


def test_forget_by_criteria_predicates(conflict_eng):
    eng = conflict_eng
    t_now = T0 + dt.timedelta(hours=2)
    # age >= 2h AND importance < 0.4 -> only c1 (c2 is 1h old, c3 imp 0.5)
    out = eng.forget_by_criteria(
        agent_id="a1", strategy="soft", max_age_hours=2.0,
        min_importance_below=0.4, now=t_now,
    )
    gone = {r.id for r in out.memories.filter(F.col("deleted_at").isNotNull()).collect()}
    assert gone == {"c1"}
    # tag filter
    out2 = eng.forget_by_criteria(agent_id="a1", strategy="soft", tags=["x"], now=t_now)
    gone2 = {r.id for r in out2.memories.filter(F.col("deleted_at").isNotNull()).collect()}
    assert gone2 == {"c2"}


def test_domain_scoped_recall_prevents_dilution(spark):
    """P3 (retrieval.rs DomainScope, v0.4.15): scoping restricts the
    candidate set BEFORE similarity, so an off-domain record that is
    lexically close to the query cannot appear in the top-k."""
    rows = spark.createDataFrame(
        [
            ("d1", "a1", "postgres connection pool tuning guide", "semantic",
             "private", 0.5, ["infra"], T0),
            # off-domain near-duplicate content
            ("d2", "a1", "postgres connection pool tuning notes", "semantic",
             "private", 0.5, ["cooking"], T0),
        ],
        _ROW_SCHEMA,
    )
    eng = MnemoSparkEngine(spark).remember_batch(rows).materialized()
    unscoped = {r.id for r in eng.recall(
        "postgres connection pool", "a1", strategy="lexical").collect()}
    assert unscoped == {"d1", "d2"}  # dilution without a scope
    scoped = {r.id for r in eng.recall(
        "postgres connection pool", "a1", strategy="lexical",
        domain_scope={"tags": ["infra"]}).collect()}
    assert scoped == {"d1"}
    # namespace scope matches tags OR metadata
    ns = {r.id for r in eng.recall(
        "postgres connection pool", "a1", strategy="lexical",
        domain_scope={"namespace": "cooking"}).collect()}
    assert ns == {"d2"}


def test_graph_recall_expands_and_respects_permissions(spark):
    """RetrievalMode::Graph (recall.rs:479-545): semantic seeds + hop
    expansion over edges with decayed contribution; relations never
    leak invisible memories."""
    rows = _mk_rows(
        spark,
        [
            ("g1", "a1", "kafka topic retention tuning", "semantic", "private", 0.5,
             [], T0),
            ("g2", "a1", "linked operational runbook", "semantic", "private", 0.5,
             [], T0 + dt.timedelta(minutes=1)),
            ("g3", "a1", "second hop postmortem notes", "semantic", "private", 0.5,
             [], T0 + dt.timedelta(minutes=2)),
            ("g4", "bob", "private memory of another agent", "semantic", "private",
             0.5, [], T0),
        ],
    )
    eng = MnemoSparkEngine(spark).remember_batch(rows).materialized()
    edges = spark.createDataFrame(
        [("g1", "g2"), ("g2", "g3"), ("g1", "g4")], "src_id string, dst_id string"
    )
    with pytest.raises(ValueError, match="edges"):
        eng.recall("kafka retention", "a1", strategy="graph")
    hits = eng.recall("kafka topic retention", "a1", strategy="graph", edges=edges)
    got = {r.id: r for r in hits.collect()}
    # seed + 1-hop + 2-hop all surface; seed outranks hops
    assert {"g1", "g2", "g3"} <= set(got)
    assert got["g1"].rank < got["g2"].rank < got["g3"].rank
    # bob's private memory is edge-linked but NOT visible to a1
    assert "g4" not in got
    # the gate applies: graph mode seeds semantically
    from mnemo_spark.functions.embed_batch import NoopEmbedder

    noop = MnemoSparkEngine(spark, embedder=NoopEmbedder()).remember_batch(rows)
    with pytest.raises(RuntimeError, match="semantic-capable"):
        noop.recall("kafka", "a1", strategy="graph", edges=edges)


def test_forget_null_predicate_rows_survive_hard_delete(spark):
    """ADVICE r2: a NULL predicate (NULL tags under a tag criterion,
    NULL content under forget_subject) must count as NOT hit for every
    strategy — before the fix, `hard` silently destroyed such rows
    with no audit event."""
    rows = spark.createDataFrame(
        [
            ("t1", "a1", "tagged row", "semantic", "private", 0.5, ["x"], T0),
            ("t2", "a1", "untagged row", "semantic", "private", 0.5, None, T0),
            ("t3", "a1", None, "semantic", "private", 0.5, ["y"], T0),
        ],
        _ROW_SCHEMA,
    )
    eng = MnemoSparkEngine(spark).remember_batch(rows).materialized()
    out = eng.forget_by_criteria(agent_id="a1", tags=["x"], strategy="hard", now=T0)
    assert {r.id for r in out.memories.collect()} == {"t2", "t3"}
    # NULL content under a subject pattern: t3 must survive redaction
    red = eng.forget_subject("tagged", strategy="hard", now=T0)
    assert {r.id for r in red.memories.collect()} == {"t3"}


def test_recall_reconstruct_belief_node(spark):
    """v0.5.1 reconstruct strategy (recall.rs:1019-1106): hybrid hits
    plus one hop of graph relations -> deterministic belief node; an
    INVISIBLE linked record never leaks into the summary; empty hits
    produce the no-match node."""
    t0 = dt.datetime(2026, 2, 1)
    rows = _mk_rows(
        spark,
        [
            ("h1", "alice", "the deploy runbook lives in the wiki", "semantic",
             "private", 0.9, ["ops"], t0),
            ("h2", "alice", "deploy windows are tuesday mornings", "semantic",
             "private", 0.8, ["ops"], t0 + dt.timedelta(hours=1)),
            ("ctx1", "alice", "the migration to the new host finished recently",
             "semantic", "private", 0.5, [], t0),
            ("secret", "bob", "bob's private note about the deploy",
             "semantic", "private", 0.5, [], t0),
        ],
    )
    eng = MnemoSparkEngine(spark).remember_batch(rows).materialized()
    edges = spark.createDataFrame(
        [("h1", "ctx1"), ("secret", "h2")], "src_id string, dst_id string"
    )
    hits, belief = eng.recall_reconstruct("deploy runbook wiki", "alice",
                                          k=2, edges=edges)
    assert belief["cue"] == "deploy runbook wiki"
    assert set(belief["source_ids"]) == {"h1", "h2"}
    # outgoing relation pulled in; bob's private record filtered out
    assert belief["linked_context_ids"] == ["ctx1"]
    assert "the migration to the new host" in belief["summary"]
    assert "bob's private note" not in belief["summary"]
    assert belief["summary"].startswith(
        'Reconstructed belief for cue "deploy runbook wiki":\n\nDirect evidence:\n'
    )
    assert 0.0 < belief["confidence"] <= 1.0
    # raw hits are untouched by the reconstruction (purely additive)
    assert {r["id"] for r in hits.collect()} == set(belief["source_ids"])

    # empty candidate set (principal sees nothing) -> the no-match node
    _, none_belief = eng.recall_reconstruct("deploy runbook wiki", "nobody",
                                            k=3, edges=edges)
    assert none_belief["source_ids"] == [] and none_belief["confidence"] == 0.0
    assert "No memories matched" in none_belief["summary"]


def test_forged_reasoning_defense(spark):
    """v0.5.17 forged-reasoning defense (retrieval.rs:216-430
    ReasoningTrustPolicy): quarantine excludes entries whose
    metadata.reasoning_provenance.authorship is untrusted — with
    ABSENT provenance reading as 'unverified' and failing CLOSED;
    down_weight keeps them at factor x score; no policy = unchanged
    read path."""
    t0 = dt.datetime(2026, 3, 1)
    rows = spark.createDataFrame(
        [
            ("mA", "a1", "the deploy procedure was reviewed", "semantic",
             "private", 0.5, [], t0,
             '{"reasoning_provenance":{"authorship":"model_authored"}}'),
            ("mB", "a1", "the deploy procedure was reviewed", "semantic",
             "private", 0.5, [], t0,
             '{"reasoning_provenance":{"authorship":"injected"}}'),
            ("mC", "a1", "the deploy procedure was reviewed", "semantic",
             "private", 0.5, [], t0, None),
        ],
        _ROW_SCHEMA + ", metadata string",
    )
    eng = MnemoSparkEngine(spark).remember_batch(rows).materialized()

    # no policy: read path unchanged, all three surface
    nop = {r["id"]: r["score"]
           for r in eng.recall("deploy procedure", "a1", k=5).collect()}
    assert len(nop) == 3

    # strict default: quarantine injected AND absent/unverified
    q = eng.recall(
        "deploy procedure", "a1", k=5,
        reasoning_trust={"action": "quarantine"},
    )
    assert [r["id"] for r in q.collect()] == ["mA"]

    # soft action: untrusted kept but scored x0.1, ranked below mA
    d = eng.recall(
        "deploy procedure", "a1", k=5,
        reasoning_trust={"action": "down_weight", "down_weight_factor": 0.1},
    ).collect()
    by_id = {r["id"]: r for r in d}
    assert len(d) == 3 and by_id["mA"]["rank"] == 1
    assert by_id["mB"]["score"] < by_id["mA"]["score"]
    assert abs(by_id["mB"]["score"] - nop["mB"] * 0.1) < 1e-6
    assert abs(by_id["mC"]["score"] - nop["mC"] * 0.1) < 1e-6

    # custom trust set: admit injected explicitly
    c = eng.recall(
        "deploy procedure", "a1", k=5,
        reasoning_trust={"action": "quarantine",
                         "trusted": ["model_authored", "injected"]},
    )
    assert {r["id"] for r in c.collect()} == {"mA", "mB"}


def test_topic_document_consolidate_and_revise(spark):
    """v0.5.0 topic-document consolidation (consolidate.rs execute;
    Infini-Memory): deterministic body, provenance metadata, the
    document recalls like any memory, and revision supersedes while
    RETAINING the old row with the chain intact."""
    import json

    t0 = dt.datetime(2026, 4, 1)
    rows = _mk_rows(
        spark,
        [
            ("e1", "a1", "the api gateway fronts every service", "semantic",
             "private", 0.6, [], t0),
            ("e2", "a1", "gateway timeouts are set to thirty seconds",
             "semantic", "private", 0.8, [], t0 + dt.timedelta(hours=1)),
            ("hidden", "bob", "bob private fact", "semantic", "private",
             0.5, [], t0),
        ],
    )
    eng = MnemoSparkEngine(spark).remember_batch(rows).materialized()

    eng2, resp = eng.consolidate(["e1", "e2"], "gateway",
                                 now=t0 + dt.timedelta(hours=2), new_id="td1")
    eng2 = eng2.materialized()
    assert resp == {
        "topic_document_id": "td1",
        "topic_name": "gateway",
        "source_count": 2,
        "version": 1,
        "superseded_id": None,
        "member_ids": ["e1", "e2"],
        "content_hash": resp["content_hash"],
    } and resp["content_hash"]
    doc = eng2.memories.filter(F.col("id") == "td1").collect()[0]
    assert doc["content"] == (
        "# gateway\n\nthe api gateway fronts every service\n\n"
        "gateway timeouts are set to thirty seconds"
    )
    meta = json.loads(doc["metadata"])
    assert meta["topic"] == "gateway"
    assert meta["consolidated_from"] == ["e1", "e2"]
    assert [m["id"] for m in meta["members"]] == ["e1", "e2"]
    assert abs(doc["importance"] - 0.8) < 1e-6 and doc["tags"] == ["gateway"]
    assert eng2.events.filter(
        F.col("event_type") == "MemoryConsolidated"
    ).count() == 1
    # retrievable as a unit
    assert "td1" in {
        r["id"] for r in eng2.recall("gateway timeouts", "a1", k=3).collect()
    }

    # revision: new version supersedes, old row retained + marked
    eng3, resp2 = eng2.consolidate(
        ["e1", "e2"], "gateway", summary="gateway: fronts services, 30s timeouts",
        supersede="td1", now=t0 + dt.timedelta(hours=3), new_id="td2",
    )
    eng3 = eng3.materialized()
    assert resp2["version"] == 2 and resp2["superseded_id"] == "td1"
    old = eng3.memories.filter(F.col("id") == "td1").collect()[0]
    assert old["consolidation_state"] == "consolidated"
    assert json.loads(old["metadata"])["superseded_by"] == "td2"
    assert eng3.events.filter(
        F.col("event_type") == "MemoryRevised"
    ).count() == 1
    # hash chain stays whole across the consolidation writes
    assert eng3.verify_integrity().filter(F.col("n_breaks") > 0).count() == 0

    # permission: a member invisible to the owning agent refuses
    import pytest as _pytest
    with _pytest.raises(PermissionError):
        eng.consolidate(["e1", "hidden"], "mixed", agent_id="a1", now=t0)
    with _pytest.raises(ValueError):
        eng.consolidate([], "empty", now=t0)


def test_consolidate_member_order_is_caller_independent(spark):
    """consolidate.rs:179 sorts the deduped member set by
    (created_at, id) BEFORE synthesis — the same member set in ANY
    caller order must yield an identical body, provenance metadata,
    member_ids, scope pick (consolidate.rs:254: first member AFTER
    sorting), and content_hash."""
    import json

    t0 = dt.datetime(2026, 4, 1)
    rows = _mk_rows(
        spark,
        [
            ("e1", "a1", "first fact", "semantic", "private", 0.6, [], t0),
            ("e2", "a1", "second fact", "semantic", "public", 0.8, [],
             t0 + dt.timedelta(hours=1)),
        ],
    )
    eng = MnemoSparkEngine(spark).remember_batch(rows).materialized()
    now = t0 + dt.timedelta(hours=2)
    eng_f, fwd = eng.consolidate(["e1", "e2"], "t", now=now, new_id="td")
    eng_r, rev = eng.consolidate(["e2", "e1"], "t", now=now, new_id="td")
    assert fwd == rev
    assert fwd["member_ids"] == ["e1", "e2"]
    doc_f = eng_f.memories.filter(F.col("id") == "td").collect()[0]
    doc_r = eng_r.memories.filter(F.col("id") == "td").collect()[0]
    assert doc_f["content"] == doc_r["content"] == (
        "# t\n\nfirst fact\n\nsecond fact"
    )
    assert doc_f["content_hash"] == doc_r["content_hash"]
    # scope comes from the sorted-first member, not the caller's first
    assert doc_r["scope"] == "private"
    meta = json.loads(doc_r["metadata"])
    assert meta["consolidated_from"] == ["e1", "e2"]
    assert [m["id"] for m in meta["members"]] == ["e1", "e2"]


def test_reconstruct_linked_context_respects_domain_scope(spark):
    """reconstruct_belief runs linked records through the FULL
    passes_filters — a domain-scoped reconstruct must not pull
    out-of-scope records into the belief summary via graph edges."""
    t0 = dt.datetime(2026, 2, 1)
    rows = spark.createDataFrame(
        [
            ("h1", "alice", "the deploy runbook lives in the wiki",
             "semantic", "private", 0.9, ["ops"], t0, '{"namespace": "ops"}'),
            ("in_ns", "alice", "context: the primary host moved",
             "semantic", "private", 0.5, [], t0, '{"namespace": "ops"}'),
            ("out_ns", "alice", "context: the campaign schedule moved",
             "semantic", "private", 0.5, [], t0, '{"namespace": "mkt"}'),
        ],
        _ROW_SCHEMA + ", metadata string",
    )
    eng = MnemoSparkEngine(spark).remember_batch(rows).materialized()
    edges = spark.createDataFrame(
        [("h1", "in_ns"), ("h1", "out_ns")], "src_id string, dst_id string"
    )
    _, scoped = eng.recall_reconstruct(
        "deploy runbook wiki", "alice", k=1, edges=edges,
        domain_scope={"namespace": "ops"},
    )
    assert scoped["source_ids"] == ["h1"]
    assert scoped["linked_context_ids"] == ["in_ns"]
    assert "campaign schedule" not in scoped["summary"]
    # unscoped: the same edge set pulls both linked records
    _, open_belief = eng.recall_reconstruct(
        "deploy runbook wiki", "alice", k=1, edges=edges
    )
    assert set(open_belief["linked_context_ids"]) == {"in_ns", "out_ns"}


def test_backdated_cross_batch_write_fails_loud(spark):
    """Cross-batch chain continuation links to the stored head and
    assumes new rows sort AFTER it in (created_at, id); a backdated
    row would chain 'fine' but make verify_integrity report a
    spurious tamper break later. The write must fail loud instead."""
    eng = MnemoSparkEngine(spark).remember_batch(
        _mk_rows(spark, [("m1", "a1", "first", "semantic", "private",
                          0.5, [], T0 + dt.timedelta(hours=1))])
    )
    assert eng.memories.count() == 1
    eng = eng.materialized()
    backdated = eng.remember_batch(
        _mk_rows(spark, [("m0", "a1", "backdated", "semantic", "private",
                          0.5, [], T0)])
    )
    with pytest.raises(Exception, match="chain head"):
        backdated.memories.count()
    # in-order same-agent append and an earlier ts on a DIFFERENT
    # (chainless-so-far) agent both stay fine
    ok = eng.remember_batch(
        _mk_rows(
            spark,
            [
                ("m2", "a1", "next", "semantic", "private", 0.5, [],
                 T0 + dt.timedelta(hours=2)),
                ("b1", "b2", "other agent, earlier wall-clock", "semantic",
                 "private", 0.5, [], T0),
            ],
        )
    )
    assert ok.memories.count() == 3
    assert ok.verify_integrity().filter(F.col("n_breaks") > 0).count() == 0


def test_legacy_strategy_string_aliases(spark):
    """retrieval.rs to_strategy_str wire names: 'auto' is the hybrid
    RRF path; 'domain_scoped' (v0.4.15) is scope-then-single-vector-
    pass, degrading to plain vector with no predicate."""
    t0 = dt.datetime(2026, 5, 1)
    rows = _mk_rows(
        spark,
        [
            ("n1", "a1", "the ingest pipeline batches uploads", "semantic",
             "private", 0.5, ["infra"], t0),
            ("n2", "a1", "uploads are scanned for malware", "semantic",
             "private", 0.5, ["security"], t0),
        ],
    )
    eng = MnemoSparkEngine(spark).remember_batch(rows).materialized()
    auto = [(r["id"], r["score"]) for r in
            eng.recall("ingest uploads", "a1", strategy="auto", k=2).collect()]
    hyb = [(r["id"], r["score"]) for r in
           eng.recall("ingest uploads", "a1", strategy="hybrid", k=2).collect()]
    assert auto == hyb and len(auto) == 2
    ds = eng.recall("ingest uploads", "a1", strategy="domain_scoped", k=5,
                    domain_scope={"tags": ["security"]}).collect()
    assert [r["id"] for r in ds] == ["n2"]
    sem = eng.recall("ingest uploads", "a1", strategy="semantic", k=5).collect()
    nos = eng.recall("ingest uploads", "a1", strategy="domain_scoped", k=5).collect()
    assert [(r["id"], r["score"]) for r in nos] == [
        (r["id"], r["score"]) for r in sem
    ]


def test_empty_content_write_stores_null_embedding(spark):
    """The relational write-path embedder must mirror the per-row
    expression's no-token contract: empty/punctuation-only content
    stores a NULL embedding (fail-loud absence, never a zero vector),
    and non-empty rows in the same batch embed normally."""
    t0 = dt.datetime(2026, 6, 1)
    rows = _mk_rows(
        spark,
        [
            ("z1", "a1", "", "semantic", "private", 0.5, [], t0),
            ("z2", "a1", "!!! ???", "semantic", "private", 0.5, [],
             t0 + dt.timedelta(minutes=1)),
            ("z3", "a1", "a real sentence here", "semantic", "private", 0.5,
             [], t0 + dt.timedelta(minutes=2)),
        ],
    )
    eng = MnemoSparkEngine(spark).remember_batch(rows)
    got = {r["id"]: r["embedding"] for r in eng.memories.collect()}
    assert got["z1"] is None and got["z2"] is None
    assert got["z3"] is not None and abs(
        sum(x * x for x in got["z3"]) - 1.0
    ) < 1e-5


def test_remember_batch_schema_contract(engine):
    """Structural contract (VERDICT r6 item 2): every column DECLARED
    in MEMORY_SCHEMA must come out of remember_batch, and every
    engine-assigned column must actually be populated — a field added
    to the schema without an assignment anywhere (the r6 chain_seq
    regression class) fails here, not 83 tests downstream."""
    from mnemo_spark.engine import AUDIT_SCHEMA

    assert [f.name for f in engine.memories.schema.fields] == [
        f.name for f in MEMORY_SCHEMA.fields
    ]
    rows = {r["id"]: r for r in engine.memories.collect()}
    for name in ("content_hash", "prev_hash", "chain_hash", "chain_seq",
                 "embedding", "created_at"):
        assert rows["m1"][name] is not None, f"declared-but-unassigned {name}"
    # audit frame honors its declared schema too
    assert [f.name for f in engine.events.schema.fields] == [
        f.name for f in AUDIT_SCHEMA.fields
    ]
    ev = engine.events.limit(1).collect()
    assert ev and ev[0]["chain_hash"] is not None
    assert ev[0]["logical_clock"] is not None


def test_chain_seq_continues_across_batches(spark):
    """chain_seq is the per-agent insertion sequence: a second batch
    continues past the stored maximum (never restarts at 1), and
    same-timestamp cross-batch appends keep a stable
    (created_at, chain_seq) total order so verify_integrity's
    distributed recompute matches append order."""
    t0 = dt.datetime(2026, 7, 1, 12, 0, 0)
    eng = MnemoSparkEngine(spark).remember_batch(
        _mk_rows(spark, [
            ("c1", "a1", "first", "semantic", "private", 0.5, [], t0),
            ("c2", "a1", "second", "semantic", "private", 0.5, [], t0),
        ])
    )
    eng = eng.materialized()
    # same created_at in a LATER batch: allowed, seq breaks the tie
    eng = eng.remember_batch(
        _mk_rows(spark, [
            ("c3", "a1", "third", "semantic", "private", 0.5, [], t0),
        ])
    )
    seqs = {r["id"]: r["chain_seq"] for r in eng.memories.collect()}
    assert seqs == {"c1": 1, "c2": 2, "c3": 3}
    assert eng.verify_integrity().filter(F.col("n_breaks") > 0).count() == 0


def test_acls_direct_assignment_clears_flag(spark):
    """`eng.acls = grants` (the raw-mutation idiom) must not leave
    _acls_known_empty stale — granted memories were hidden."""
    from mnemo_spark.engine import ACL_SCHEMA

    t0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    mems = spark.createDataFrame(
        [("m1", "alice", "secret fact", "semantic", "private", 0.5, [], t0)],
        "id string, agent_id string, content string, memory_type string,"
        " scope string, importance float, tags array<string>,"
        " created_at timestamp",
    )
    eng = MnemoSparkEngine(spark).remember_batch(mems)
    assert eng.visible_to("bob").count() == 0
    eng.acls = spark.createDataFrame(
        [("m1", "bob", "read", None)], ACL_SCHEMA
    )
    assert eng._acls_known_empty is False
    assert eng.visible_to("bob").filter(F.col("id") == "m1").count() == 1
