"""Interop-crate operator tests: deal ledger (mnemo-deal), Mesh
policy + audit chaining (mnemo-mesh), code-mode runner
(mnemo-codemode), attention-state store (mnemo-attention-state).

The deal tests mirror the reference's own suite
(dispute.rs:70-95: intact_chain_verifies,
tampered_terms_pinpoint_offset, broken_prev_hash_is_caught_before_hmac;
runner.rs tests: empty_program_is_rejected, fuel_exhaust_halts,
json_mode_costs_more_than_code_mode).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mnemo_spark.functions.codemode import (
    CodeModeError,
    GuestProgram,
    ResourceBudget,
    SparkDocStore,
    estimate_code_mode_tokens,
    estimate_json_mode_tokens,
    run_code_mode,
)
from mnemo_spark.operators.attention_state import AttentionStateStore
from mnemo_spark.operators.deal import (
    GENESIS,
    reputation,
    sign_deals,
    verify_deal_chain,
)
from mnemo_spark.operators.mesh import authorize_ops, chain_audit_envelopes

KEY = b"interop-test-hmac-key-32-bytes!!"


def _chain(spark, n=10, ledger="L"):
    rows = [
        (ledger, f"d{i:03d}", f"buyer-{i}", f"seller-{i}", f'{{"i":{i}}}',
         f"2026-01-01 00:00:{i:02d}")
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "ledger string, deal_id string, buyer string, seller string,"
        " terms string, signed_at string"
    )
    return sign_deals(df, KEY, ["ledger"], ["signed_at", "deal_id"])


def test_intact_chain_verifies(spark):
    signed = _chain(spark, 10)
    rep = verify_deal_chain(signed, KEY, ["ledger"], ["signed_at", "deal_id"]).collect()
    assert len(rep) == 1 and rep[0]["ok"] and rep[0]["divergent_offset"] is None
    # genesis head on the first row
    first = signed.orderBy("signed_at", "deal_id").first()
    assert first["prev_hash"] == GENESIS


def test_tampered_terms_pinpoint_offset(spark):
    signed = _chain(spark, 10)
    tampered = signed.withColumn(
        "terms",
        F.when(F.col("deal_id") == "d004", F.lit('{"i":99999}')).otherwise(
            F.col("terms")
        ),
    )
    r = verify_deal_chain(tampered, KEY, ["ledger"], ["signed_at", "deal_id"]).collect()[0]
    assert not r["ok"]
    assert r["divergent_offset"] == 4 and r["reason"] == "hmac_mismatch"


def test_broken_prev_hash_caught_before_hmac(spark):
    signed = _chain(spark, 10)
    broken = signed.withColumn(
        "prev_hash",
        F.when(F.col("deal_id") == "d003", F.lit("ff" * 32)).otherwise(
            F.col("prev_hash")
        ),
    )
    r = verify_deal_chain(broken, KEY, ["ledger"], ["signed_at", "deal_id"]).collect()[0]
    assert not r["ok"]
    assert r["divergent_offset"] == 3 and r["reason"] == "prev_hash_mismatch"


def test_deal_key_too_short_refused(spark):
    df = spark.createDataFrame([("L", "d", "b", "s", "{}", "2026-01-01 00:00:00")],
                               "ledger string, deal_id string, buyer string,"
                               " seller string, terms string, signed_at string")
    with pytest.raises(ValueError, match="32 bytes"):
        sign_deals(df, b"short", ["ledger"], ["deal_id"])


def test_reputation_penalty_and_neutral_fallback(spark):
    deals = spark.createDataFrame(
        [(f"d{i}", "alice", "bob", dt.datetime(2026, 1, 1 + i)) for i in range(5)],
        "deal_id string, buyer string, seller string, signed_at timestamp",
    )
    disputes = spark.createDataFrame([("bob",), ("bob",)], "agent string")
    rep = {
        r["agent"]: r
        for r in reputation(deals, disputes, "2026-02-01 00:00:00").collect()
    }
    # 2 disputes → score = 1 − 0.2; alice has none → 1.0
    assert rep["bob"]["score"] == pytest.approx(0.8)
    assert rep["alice"]["score"] == pytest.approx(1.0)
    assert rep["bob"]["completed"] == 5 and rep["bob"]["disputed"] == 2
    assert rep["alice"]["mean_settlement_ms"] > 0
    # fully-decayed history falls back to neutral 0.5 (reputation.rs:88-96)
    tiny = reputation(deals, disputes, "2026-02-01 00:00:00", half_life_secs=1e-9)
    assert {r["score"] for r in tiny.collect()} == {0.5}


def test_mesh_decision_cascade_static_rules(spark):
    ops = spark.createDataFrame(
        [
            (None, "att", "t1", "s", "recall"),          # missing identity
            ("spiffe://t1/a", "", "t1", "s", "recall"),  # empty attestation
            ("spiffe://t1/a", "att", "t1", "s", "recall"),  # rule hit
            ("spiffe://t1/a", "att", "t1", "s", "write"),   # no rule → deny
        ],
        "spiffe_id string, attestation string, tenant string, scope string, op string",
    )
    rules = spark.createDataFrame(
        [("spiffe://t1/a", "t1", "s", "recall")],
        "spiffe_id string, tenant string, scope string, op string",
    )
    got = {
        (r["op"], r["spiffe_id"], r["attestation"]): r["decision"]
        for r in authorize_ops(ops, rules).collect()
    }
    assert got[("recall", None, "att")] == "deny_missing_identity"
    assert got[("recall", "spiffe://t1/a", "")] == "deny_empty_attestation"
    assert got[("recall", "spiffe://t1/a", "att")] == "allow"
    assert got[("write", "spiffe://t1/a", "att")] == "deny"


def test_mesh_trust_domain_mode(spark):
    # policy.rs:107-113 — with an empty rule map, trust domain must
    # equal the namespace tenant
    ops = spark.createDataFrame(
        [
            ("spiffe://t1/a", "att", "t1", "s", "recall"),
            ("spiffe://t2/a", "att", "t1", "s", "recall"),
        ],
        "spiffe_id string, attestation string, tenant string, scope string, op string",
    )
    got = {r["spiffe_id"]: r["decision"] for r in authorize_ops(ops, None).collect()}
    assert got["spiffe://t1/a"] == "allow"
    assert got["spiffe://t2/a"] == "deny_namespace_mismatch"


def test_mesh_audit_envelopes_chain(spark):
    ops = spark.createDataFrame(
        [("spiffe://t1/a", "att", "t1", "s", "recall", i) for i in range(4)],
        "spiffe_id string, attestation string, tenant string, scope string,"
        " op string, seq long",
    )
    decided = authorize_ops(ops, None)
    chained = (
        chain_audit_envelopes(decided, ["tenant"], ["seq"])
        .orderBy("seq")
        .collect()
    )
    assert chained[0]["prev_hash"] == ""  # genesis
    for prev, cur in zip(chained, chained[1:]):
        assert cur["prev_hash"] == prev["chain_hash"]


class _StubStore:
    def recall(self, q, k):
        return [(f"m{i}", f"answer to '{q}' #{i}", 1.0 - i * 0.1)
                for i in range(min(k, 3))]

    def score(self, mid):
        return 0.5

    def cite(self, mid):
        return f"receipt-for-{mid}"


def test_codemode_empty_program_rejected():
    with pytest.raises(CodeModeError) as e:
        run_code_mode(GuestProgram([]), ResourceBudget(), _StubStore())
    assert e.value.kind == "empty_program"


def test_codemode_fuel_exhaust_halts():
    steps = [("recall", "q", 2)] * 12  # 12 × 1M fuel > 10M default
    with pytest.raises(CodeModeError) as e:
        run_code_mode(GuestProgram(steps), ResourceBudget(), _StubStore())
    assert e.value.kind == "halted"


def test_codemode_bundle_and_token_costs():
    bundle = run_code_mode(
        GuestProgram([("recall", "find notes", 3), ("cite", "m0")]),
        ResourceBudget(wall_secs=5.0),
        _StubStore(),
    )
    assert len(bundle.recalled) == 3 and bundle.final_answer.startswith("- ")
    records = [c for _, c, _ in bundle.recalled]
    json_cost = estimate_json_mode_tokens("find notes", records)
    code_cost = estimate_code_mode_tokens("find notes", records, host_calls=2)
    assert json_cost > code_cost  # token.rs json_mode_costs_more test
    assert bundle.guest_token_cost > 0


def test_codemode_spark_store(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "lazy dogs sleep all day"),
         (3, "quick foxes and quick wits")],
        "doc_id long, text string",
    )
    store = SparkDocStore(docs, id_col="doc_id", content_col="text")
    bundle = run_code_mode(
        GuestProgram([("recall", "quick fox", 2)]),
        ResourceBudget(wall_secs=120.0),
        store,
    )
    assert len(bundle.recalled) == 2
    assert bundle.recalled[0][0] in {"1", "3"}
    # punctuation and case tokenise like the corpus: same recall
    assert store.recall("Quick, fox?", 2) == store.recall("quick fox", 2)
    assert store.cite("1") == "recall://1"
    assert 0.0 <= store.score("1") <= 1.0


def test_attention_state_roundtrip(spark):
    st = AttentionStateStore(spark)
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    st.put_batch(
        [
            {"agent_id": "a1", "prefix_hash": "p1", "state_blob": b"\x01\x02",
             "model": "m@bf16", "created_at": t0},
            {"agent_id": "a2", "prefix_hash": "p1", "state_blob": b"\x03",
             "ttl_seconds": 60, "created_at": t0},
        ]
    )
    got = st.get("a1", "p1")
    assert got is not None and bytes(got["state_blob"]) == b"\x01\x02"
    assert got["model"] == "m@bf16" and len(got["blob_sha256_hex"]) == 64
    assert got["id"].startswith("0")  # UUIDv7 time-prefixed
    assert st.get("a1", "nope") is None
    # insert-or-replace under the same key (lib.rs:135-138)
    st.put_batch(
        [{"agent_id": "a1", "prefix_hash": "p1", "state_blob": b"\xff",
          "created_at": t0 + dt.timedelta(seconds=5)}]
    )
    assert bytes(st.get("a1", "p1")["state_blob"]) == b"\xff"
    # TTL sweep honours expiry at the engine layer (lib.rs:108-111)
    st.sweep(t0 + dt.timedelta(seconds=120))
    assert st.get("a2", "p1") is None
    assert st.get("a1", "p1") is not None  # no TTL → never expires
    # subject erasure returns the removal count (lib.rs:157-161)
    assert st.delete_for_agent("a1") == 1
    assert st.get("a1", "p1") is None


def test_golem_vector_host(spark):
    """golem:vector host imports (reference mnemo-golem-host
    lib.rs:93-109): upsert/search/delete over the collection→agent_id
    namespace; search takes the precomputed vector natively (the gap
    the reference documents as a future row)."""
    from mnemo_spark.functions.golem import MnemoGolemHost

    host = MnemoGolemHost(spark)
    host.upsert_vector("c1", "a", [1.0, 0.0, 0.0])
    host.upsert_vector("c1", "b", [0.0, 1.0, 0.0])
    host.upsert_vector("c2", "z", [1.0, 0.0, 0.0])
    got = host.search_vectors("c1", [1.0, 0.1, 0.0], limit=2)
    assert [g[0] for g in got] == ["a", "b"]  # collection-isolated: no z
    assert got[0][1] > got[1][1]
    # upsert replaces under (collection, id) — LWW
    host.upsert_vector("c1", "a", [0.0, 0.0, 1.0])
    got2 = host.search_vectors("c1", [0.5, 0.8, 0.0], limit=1)
    assert got2[0][0] == "b"  # a's replaced vector is orthogonal to the probe
    assert host.delete_vectors("c1", ["a", "missing"]) == 1
    assert [g[0] for g in host.search_vectors("c1", [0.0, 1.0, 0.0], 5)] == ["b"]
    with pytest.raises(ValueError, match="empty vector"):
        host.upsert_vector("c1", "x", [])
    with pytest.raises(ValueError, match="empty query"):
        host.search_vectors("c1", [])


@pytest.mark.parametrize("offset", [0, 1, 5, 9])
def test_deal_tamper_any_offset_pinpointed(spark, offset):
    """Property (dispute.rs contract): tampering ANY single envelope's
    terms is pinpointed at exactly that offset — not before, not
    after — because the HMAC covers the canonical bytes and every
    later prev_hash inherits the break."""
    signed = _chain(spark, 10)
    tampered = signed.withColumn(
        "terms",
        F.when(F.col("deal_id") == f"d{offset:03d}", F.lit("{tampered}")).otherwise(
            F.col("terms")
        ),
    )
    r = verify_deal_chain(tampered, KEY, ["ledger"], ["signed_at", "deal_id"]).collect()[0]
    assert not r["ok"] and r["divergent_offset"] == offset
    assert r["reason"] == "hmac_mismatch"
