"""The live rewrite path, in-process and offline: a fake ``openai``
client stands in for the Azure deployment. The rewrite runs on the
driver, so the fake sees every call the pipeline makes."""

from __future__ import annotations

import sys
import threading
import types
from collections import Counter

import pytest

from medical_examination_data_etl_system_spark.operators.cache import cache_scope
from medical_examination_data_etl_system_spark.pipeline import llm
from medical_examination_data_etl_system_spark.pipeline.ingest import records_to_df
from medical_examination_data_etl_system_spark.pipeline.run import reports_for_batch
from medical_examination_data_etl_system_spark.schemas import LANGU_MAP

from .fixtures import custom_fact_dims, custom_fact_frame


class _FakeOpenAI:
    """``openai.OpenAI``'s surface as ``SummaryRewriter`` uses it. Each
    call is recorded as (system prompt, text); ``errors`` are raised, in
    order, by the first calls."""

    calls: list[tuple[str, str]] = []
    errors: list[Exception] = []
    _lock = threading.Lock()

    def __init__(self, **_kwargs):
        self.chat = types.SimpleNamespace(completions=self)

    def create(self, model, messages, **_kwargs):
        with self._lock:
            self.calls.append((messages[0]["content"], messages[1]["content"]))
            if self.errors:
                raise self.errors.pop(0)
        reply = types.SimpleNamespace(content=f"  rewritten: {messages[1]['content']}  ")
        return types.SimpleNamespace(choices=[types.SimpleNamespace(message=reply)])


@pytest.fixture
def live(monkeypatch):
    """A configured live client; returns the fake's class."""
    monkeypatch.setitem(sys.modules, "openai", types.SimpleNamespace(OpenAI=_FakeOpenAI))
    monkeypatch.setenv("AZURE_OPENAI_ENDPOINT", "https://example.invalid")
    monkeypatch.setenv("AZURE_OPENAI_API_KEY", "test-key")
    monkeypatch.setattr(_FakeOpenAI, "calls", [])
    monkeypatch.setattr(_FakeOpenAI, "errors", [])
    return _FakeOpenAI


def test_batch_sends_each_distinct_text_once(spark, live, tmp_path):
    """The CSV checkpoint and the collect run the plan twice; the LLM
    still sees each distinct non-default summary once, with its
    language's prompt, and never a per-language default."""
    fact, records = custom_fact_frame()
    with cache_scope():
        reports = reports_for_batch(
            records_to_df(spark, records), custom_fact_dims(spark, fact), output_dir=str(tmp_path)
        )
        rows = {r["record_id"]: r["report"] for r in reports.collect()}
    sent = Counter(text for _, text in live.calls)
    assert sent == Counter(["共同摘要文字", "獨立摘要", "Own summary"])
    assert not set(sent) & set(LANGU_MAP.values())
    prompts = {text: prompt for prompt, text in live.calls}
    assert prompts["Own summary"] == llm._PROMPTS["2"] != prompts["獨立摘要"] == llm._PROMPTS["1"]
    assert "            rewritten: 共同摘要文字\n" in rows["R201"]
    assert "            rewritten: Own summary\n" in rows["R202"]
    assert "            " + LANGU_MAP["1"] + "\n" in rows["R201"]


def test_rate_limit_is_retried_after_the_advised_wait(live, monkeypatch):
    sleeps: list[float] = []
    monkeypatch.setattr(llm, "time", types.SimpleNamespace(sleep=sleeps.append))
    live.errors.append(Exception("Error code: 429 - rate_limit_exceeded, please try again in 0.5s."))
    assert llm.SummaryRewriter("1").rewrite_one("血壓偏高") == "rewritten: 血壓偏高"
    assert sleeps == [pytest.approx(0.6)]
    assert [text for _, text in live.calls] == ["血壓偏高", "血壓偏高"]


def test_other_errors_return_the_text_unchanged(live, monkeypatch):
    sleeps: list[float] = []
    monkeypatch.setattr(llm, "time", types.SimpleNamespace(sleep=sleeps.append))
    live.errors.append(RuntimeError("content filter"))
    assert llm.SummaryRewriter("2").rewrite_one("text") == "text"
    assert sleeps == [] and len(live.calls) == 1
