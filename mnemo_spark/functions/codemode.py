"""Code-mode recall: host-side guest-program runner + token accounting
(reference crates/mnemo-codemode).

Instead of paying JSON tool-call envelopes per recall turn, the host
hands the LLM a sandboxed guest whose imports are plain function
calls; the host runs the program and returns one RecallBundle plus
token-cost accounting (runner.rs:104-158). The estimators
(token.rs:13-44) power the reference's bench gate asserting code mode
delivers the claimed token reduction vs JSON-tool mode.

Spark mapping: the host store's `recall` is any top-k retrieval the
engine already serves (BM25 / hybrid / vector); the program loop is
driver-side by design — it orchestrates k-row results, never corpus
data. `SparkDocStore` adapts the documents table through the existing
BM25 operator. Fuel/wall budgets are enforced cooperatively per step
exactly like the host-only reference path (the reference's preemptive
wasm metering is the `wasm`-feature follow-up even upstream).
"""

from __future__ import annotations

import math
import re
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

CHARS_PER_TOKEN = 4  # token.rs:10 — "1 token ≈ 4 chars" linear model
FUEL_PER_STEP = 1_000_000  # runner.rs:118
_JSON_ENVELOPE_TOKENS = 120  # token.rs:24 — tool_call wrapper overhead
_JSON_PER_RECORD_TOKENS = 50 // CHARS_PER_TOKEN  # token.rs:25 (integer div)
_CODE_TOKENS_PER_HOST_CALL = 4  # token.rs:38


def estimate_tokens(s: str) -> int:
    """ceil(len/4) (token.rs:13-15; same rule as functions/text.py
    token_estimate, Python-side for driver accounting)."""
    return math.ceil(len(s or "") / CHARS_PER_TOKEN)


def estimate_json_mode_tokens(query: str, records: list[str]) -> int:
    """Cost of the MCP tools/call → tools/result round trip
    (token.rs:21-31)."""
    total = _JSON_ENVELOPE_TOKENS + estimate_tokens(query)
    for r in records:
        total += _JSON_PER_RECORD_TOKENS + estimate_tokens(r)
    return total


def estimate_code_mode_tokens(query: str, records: list[str], host_calls: int) -> int:
    """Cost of the same exchange through generated host-side code
    (token.rs:36-43)."""
    total = estimate_tokens(query) + host_calls * _CODE_TOKENS_PER_HOST_CALL
    for r in records:
        total += estimate_tokens(r)
    return total


class CodeModeError(RuntimeError):
    """runner.rs:80-90 error ladder; `kind` is the variant tag."""

    def __init__(self, kind: str, detail: str = ""):
        super().__init__(f"{kind}: {detail}" if detail else kind)
        self.kind = kind


@dataclass
class ResourceBudget:
    """runner.rs:21-35. The 50 ms default wall bounds a wasm sandbox
    step; a batch recall pays Spark job latency, so callers driving a
    SparkDocStore should pass a wall sized to their cluster."""

    fuel: int = 10_000_000
    mem_pages: int = 64
    wall_secs: float = 0.050


@dataclass
class RecallBundle:
    recalled: list[tuple[str, str, float]]  # (id, content, score)
    final_answer: str
    guest_token_cost: int


@dataclass
class GuestProgram:
    """Steps mirror the WIT `store` interface: ('recall', query, k),
    ('score', memory_id), ('cite', memory_id)."""

    steps: list[tuple] = field(default_factory=list)


def run_code_mode(program: GuestProgram, budget: ResourceBudget, store) -> RecallBundle:
    """Run a guest program against a host store (runner.rs:104-158).

    store must expose recall(query, k) -> [(id, content, score)],
    score(memory_id) -> float, cite(memory_id) -> str. Each host
    import burns a fixed fuel quantum; exceeding fuel or wall raises
    CodeModeError('halted' / 'wall_time_exceeded'); an empty program
    is refused ('empty_program').
    """
    if not program.steps:
        raise CodeModeError("empty_program", "guest emitted no recall steps")
    start = time.monotonic()
    fuel_used = 0
    recalled: list[tuple[str, str, float]] = []
    answer_parts: list[str] = []
    for step in program.steps:
        fuel_used += FUEL_PER_STEP
        if fuel_used > budget.fuel:
            raise CodeModeError("halted", f"{budget.fuel} fuel units consumed")
        if time.monotonic() - start > budget.wall_secs:
            raise CodeModeError("wall_time_exceeded", f"{budget.wall_secs}s")
        kind = step[0]
        if kind == "recall":
            _, query, k = step
            hits = store.recall(query, k)
            answer_parts.extend(f"- {content}" for _, content, _ in hits)
            recalled.extend(hits)
        elif kind == "score":
            store.score(step[1])
        elif kind == "cite":
            store.cite(step[1])
        else:
            raise CodeModeError("sandbox_violation", f"unknown host import {kind!r}")
    final_answer = "\n".join(answer_parts) or "(no relevant memories)"
    return RecallBundle(
        recalled=recalled,
        final_answer=final_answer,
        guest_token_cost=estimate_tokens(final_answer)
        + len(program.steps) * _CODE_TOKENS_PER_HOST_CALL,
    )


class SparkDocStore:
    """HostStore over a documents DataFrame via the engine's BM25
    ranking (runner.rs:95-101 HostStore; the reference's CLI wires
    the same trait to MnemoEngine::recall). recall collects k rows —
    driver-sized output for one consumer, like envelope rendering."""

    def __init__(self, docs: DataFrame, id_col: str = "doc_id",
                 content_col: str = "content"):
        self._docs = docs
        self._id = id_col
        self._content = content_col

    def recall(self, query: str, k: int) -> list[tuple[str, str, float]]:
        from mnemo_spark.functions.text import TOKEN_PATTERN
        from mnemo_spark.operators.bm25 import bm25_topk

        # the corpus tokenizer: "Quick, fox?" asks for quick and fox
        terms = re.findall(TOKEN_PATTERN, (query or "").lower())
        hits = bm25_topk(
            self._docs, terms, k=k, id_col=self._id, text_col=self._content
        )
        ranked = hits.join(
            self._docs.select(self._id, self._content), self._id
        ).orderBy("rank")
        return [
            (str(r[self._id]), r[self._content] or "", float(r["bm25"]))
            for r in ranked.collect()
        ]

    def score(self, memory_id: str) -> float:
        row = (
            self._docs.filter(self._docs[self._id] == memory_id)
            .select(self._content)
            .head()
        )
        if row is None:
            return 0.0
        return min(1.0, len(row[0] or "") / 1000.0)

    def cite(self, memory_id: str) -> str:
        return f"recall://{memory_id}"
