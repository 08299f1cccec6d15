"""Pluggable transform-generation seam + the conversational state machine.

The reference pairs its transform chain with a conversational codegen loop:
a provider (Gemini there) receives the user prompt + the input schema +
sample rows + the running conversation, and answers with either a
clarification question, a fenced ``def transform(df, spark)`` code block, or
an error; the router persists the exchange, flips the transform's status,
and hands generated code to the validate → dry-run → confirm lifecycle
(reference: backend/app/services/ai_service.py:141-265 response contract,
[CLARIFICATION] / ```python protocol at ai_service.py:96-139; conversation
state machine in backend/app/routers/silver.py:293-367).

This module keeps that WHOLE contract engine-side but makes the model call
a seam: any callable ``provider(prompt, schema_context, history) -> str``
plugs in — a real LLM client outside this repo, or the deterministic
:class:`FakeProvider` used by the tests. The engine never ships an API
client or key handling: SURVEY §7.1 scopes the LLM call itself out of the
engine core, and everything downstream of the raw response text (parsing,
status flips, validation, sandboxed dry-run, audit, chain confirm) is real
and covered by unit tests with the fake provider.

States (mirrors the reference's transformation.status transitions):

    drafting ──send()──▶ chatting          (clarification | provider error)
                 │
                 └─────▶ code_generated ──dry_run()──▶ dry_run_ok
                              ▲                │
                              └── chatting ◀───┘ (failure text appended to
                                                  history so the next
                                                  send() can debug — the
                                                  reference's rule 10)
    dry_run_ok ──confirm(chain)──▶ confirmed   (step added + audited)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from autonomus_datapipeline_spark.engine.chain import TransformChain
from autonomus_datapipeline_spark.engine.sandbox import DryRunResult, dry_run
from autonomus_datapipeline_spark.engine.validation import (
    TransformValidationError,
    validate_transform_code,
)

CLARIFICATION_TAG = "[CLARIFICATION]"
_CODE_FENCE = re.compile(r"```python\s*\n(.*?)```", re.DOTALL)


@dataclass
class ProviderResult:
    """Parsed provider response — the reference's ai_service return shape."""

    kind: str  # "clarification" | "code" | "error"
    content: str
    code: str | None = None
    error: str | None = None


def parse_provider_text(text: str) -> ProviderResult:
    """Classify raw provider text exactly like the reference does:
    a ``[CLARIFICATION]``-prefixed answer is a question (tag stripped),
    a ```python fence is code, anything else is conversational
    (treated as clarification so the loop keeps going)."""
    text = (text or "").strip()
    if not text:
        return ProviderResult("error", "provider returned empty response",
                              error="empty_response")
    if text.startswith(CLARIFICATION_TAG):
        return ProviderResult(
            "clarification", text.replace(CLARIFICATION_TAG, "", 1).strip()
        )
    m = _CODE_FENCE.search(text)
    if m:
        return ProviderResult("code", text, code=m.group(1).strip())
    return ProviderResult("clarification", text)


def schema_context(df: DataFrame, sample_n: int = 5) -> dict:
    """Schema + sample-row context handed to the provider — the engine-side
    equivalent of the reference's _build_schema_context (real ``limit(n)``
    rows, not fabricated ones — same choice as the dry-run executor)."""
    return {
        "schema": [
            {"name": f.name, "type": f.dataType.simpleString(),
             "nullable": f.nullable}
            for f in df.schema.fields
        ],
        "sample_rows": [
            r.asDict(recursive=True) for r in df.limit(sample_n).collect()
        ],
    }


class FakeProvider:
    """Deterministic scripted provider for tests: pops one canned response
    per call and records what it was asked."""

    def __init__(self, responses: list[str]):
        self.responses = list(responses)
        self.calls: list[dict] = []

    def __call__(self, prompt: str, schema_ctx: dict, history: list[dict]) -> str:
        self.calls.append(
            {"prompt": prompt, "schema_ctx": schema_ctx, "history": list(history)}
        )
        if not self.responses:
            raise RuntimeError("FakeProvider exhausted")
        return self.responses.pop(0)


@dataclass
class TransformConversation:
    """Conversation-driven lifecycle of ONE transform step.

    Owns the message log (ordered, role-tagged — the reference's
    ConversationMessage rows), the status field, and the generated code;
    wires confirmed code into a :class:`TransformChain` which handles
    versioning + audit.
    """

    name: str
    provider: Callable[[str, dict, list[dict]], str]
    schema_ctx: dict = field(default_factory=dict)
    messages: list[dict] = field(default_factory=list)
    status: str = "drafting"
    generated_code: str | None = None
    last_dry_run: DryRunResult | None = None

    def _append(self, role: str, content: str, code: str | None = None) -> dict:
        msg = {
            "role": role,
            "content": content,
            "code": code,
            "order": len(self.messages) + 1,
        }
        self.messages.append(msg)
        return msg

    @property
    def conversation_count(self) -> int:
        return len(self.messages)

    def send(self, prompt: str) -> ProviderResult:
        """One user turn: record it, call the provider, parse, flip status.

        Provider exceptions become an ``error`` result with the status left
        in ``chatting`` (the reference maps timeouts/HTTP errors the same
        way — the conversation survives, the user retries)."""
        self._append("user", prompt)
        try:
            raw = self.provider(prompt, self.schema_ctx, self.messages[:-1])
            result = parse_provider_text(raw)
        except Exception as exc:  # noqa: BLE001 — provider faults are data
            result = ProviderResult(
                "error", f"provider error: {exc}", error=type(exc).__name__
            )
        if result.kind == "code":
            # Static validation gates BEFORE the code is ever accepted —
            # invalid generations bounce back into the chat loop with the
            # validator's message, like a failed dry-run would.
            try:
                validate_transform_code(result.code or "")
            except TransformValidationError as exc:
                result = ProviderResult(
                    "error",
                    f"generated code rejected: {exc}",
                    error="validation_failed",
                )
        self._append("assistant", result.content, result.code)
        if result.kind == "code":
            self.generated_code = result.code
            self.status = "code_generated"
        else:
            self.status = "chatting"
        return result

    def run_dry_run(
        self, spark: SparkSession, sample_df: DataFrame, n_rows: int = 10
    ) -> DryRunResult:
        """Sandboxed dry-run of the generated code on real sample rows.
        Failure text is appended to the history (so the next ``send`` —
        'the dry-run failed with …' — has the error in context) and the
        status drops back to ``chatting``."""
        if self.generated_code is None:
            raise ValueError("no generated code to dry-run")
        res = dry_run(self.generated_code, sample_df, spark, n_rows)
        self.last_dry_run = res
        if res.ok:
            self.status = "dry_run_ok"
        else:
            self._append("system", f"dry-run failed: {res.error}")
            self.status = "chatting"
        return res

    def confirm(self, chain: TransformChain) -> None:
        """Promote the dry-run-clean code into the chain (versioned +
        audited there). Only a dry_run_ok conversation can confirm —
        same gate the reference's confirm endpoint enforces."""
        if self.status != "dry_run_ok":
            raise ValueError(
                f"cannot confirm from status {self.status!r}; dry-run first"
            )
        chain.add_step(self.name, self.generated_code or "")
        self.status = "confirmed"
