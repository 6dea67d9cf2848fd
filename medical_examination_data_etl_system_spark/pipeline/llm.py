"""Summary-rewrite stage (the reference's only "UDF").

Parity with reference llm_processing.py:18-216 (``SuggestionTranslator``
+ ``process_suggestion``), re-expressed for Spark:

- the reference memoizes per distinct summary text and calls the LLM with
  a 3-thread pool, 3 retries, exponential backoff, a rate-limit
  ``try again in Ns`` parser, identity fallback on failure, a skip-list
  for the per-language default texts, and a deterministic MOCK mode
  (``"[LLM_OUTPUT]" + text``) when no credentials are configured.
- the engine computes ``distinct (LANG_NO, SUMMARY)`` ONCE across the
  whole dataset (the reference re-calls per record), runs the rewriter
  inside ``mapInPandas`` (Arrow batches; thread pool per batch — bounded
  concurrency per executor), and ``persist()``s the result: the stage is
  non-deterministic against a real endpoint, and a persisted barrier
  stops Spark from re-invoking it on plan re-execution.

The mock path needs no network and is the determinism hook for tests —
preserved verbatim in behavior.
"""

from __future__ import annotations

import os
import re
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from medical_examination_data_etl_system_spark.operators.cache import persist_tracked

from medical_examination_data_etl_system_spark.schemas import LANGU_MAP

# Texts never sent to the LLM (identity rewrite) — reference
# llm_processing.py:10,135-137.
LANGU_DEFAULT_TEXT = list(LANGU_MAP.values())

_PROMPTS = {
    # Condensed per-language system prompts (reference llm_processing.py:20-78
    # carries the full production wording; the mock path never uses them).
    "1": "你是專業報告編輯。請將內容改寫為繁體中文的易懂白話文，保留數字與時間單位，僅輸出改寫後的單一段文字。",
    "2": "You are a professional report editor. Rewrite the text into plain, neutral English, keep numbers and time units, output only the rewritten paragraph.",
    "3": "あなたは専門レポートの編集者です。内容をわかりやすい日本語に書き換え、数値と時間の単位を保持し、改写後の段落のみを出力してください。",
    "4": "你是专业报告编辑。请将内容改写为通俗易懂的简体中文，保留数字与时间单位，仅输出改写后的单一段文字。",
}


class SummaryRewriter:
    """Per-language text rewriter with mock fallback.

    Talks to an Azure OpenAI deployment when AZURE_OPENAI_ENDPOINT /
    AZURE_OPENAI_API_KEY are set; otherwise it is a deterministic mock
    (``"[LLM_OUTPUT]" + text``).
    """

    def __init__(
        self,
        lang_no: str,
        model: str = "gpt-4o",
        max_workers: int = 3,
        max_retries: int = 3,
        base_delay: float = 1.0,
    ):
        self.lang_no = str(lang_no)
        self.model = model
        self.max_workers = max_workers
        self.max_retries = max_retries
        self.base_delay = base_delay
        self.client = None
        endpoint = os.getenv("AZURE_OPENAI_ENDPOINT")
        api_key = os.getenv("AZURE_OPENAI_API_KEY")
        if endpoint and api_key:
            try:
                from openai import OpenAI  # gated: not in the offline image

                self.client = OpenAI(
                    api_key=api_key,
                    base_url=f"{endpoint}/openai/deployments/{model}",
                    default_query={
                        "api-version": os.getenv("AZURE_OPENAI_API_VERSION", "2024-08-01-preview")
                    },
                    default_headers={"api-key": api_key},
                )
            except ImportError:
                self.client = None  # offline image: fall back to mock

    # -- single text ------------------------------------------------------
    def rewrite_one(self, text: str) -> str:
        if self.client is None:
            return f"[LLM_OUTPUT]{text}"
        for attempt in range(self.max_retries):
            try:
                resp = self.client.chat.completions.create(
                    model=self.model,
                    messages=[
                        {"role": "system", "content": _PROMPTS[self.lang_no]},
                        {"role": "user", "content": text},
                    ],
                    max_tokens=300,
                    temperature=0,
                    top_p=1,
                )
                return resp.choices[0].message.content.strip()
            except Exception as exc:  # noqa: BLE001 — API surface is broad
                msg = str(exc).lower()
                if "rate_limit" in msg or "429" in msg:
                    time.sleep(self._wait_time(str(exc), attempt))
                    continue
                return text  # non-rate-limit error → identity fallback
        return text  # retries exhausted

    def _wait_time(self, error_msg: str, attempt: int) -> float:
        m = re.search(r"try again in ([\d.]+)s", error_msg)
        if m:
            return float(m.group(1)) + 0.1
        return self.base_delay * (2**attempt)

    # -- batch ------------------------------------------------------------
    def rewrite_batch(self, texts: list[str]) -> dict[str, str]:
        """text → rewritten, skip-list honored, order-independent."""
        results: dict[str, str] = {}
        to_send = []
        for t in texts:
            if t in LANGU_DEFAULT_TEXT:
                results[t] = t  # skip-list: defaults pass through
            elif t not in results:
                to_send.append(t)
        if to_send:
            with ThreadPoolExecutor(max_workers=self.max_workers) as pool:
                for t, out in zip(to_send, pool.map(self.rewrite_one, to_send)):
                    results[t] = out
        return results


_REWRITE_SCHEMA = T.StructType(
    [
        T.StructField("LANG_NO", T.StringType(), True),
        T.StructField("SUMMARY", T.StringType(), True),
        T.StructField("SUMMARY_REWRITTEN", T.StringType(), True),
    ]
)


def rewrite_distinct_summaries(df: DataFrame, model: str | None = None) -> DataFrame:
    """distinct (LANG_NO, SUMMARY) → (…, SUMMARY_REWRITTEN), persisted.

    ``df`` must carry LANG_NO and a generic SUMMARY column. Keys are
    stripped before rewriting (reference text_processing.py:75). The
    result is persisted MEMORY_AND_DISK: the rewrite is non-deterministic
    against a live endpoint and must not be recomputed per consumer.
    """
    model = model or os.getenv("AZURE_OPENAI_DEPLOYMENT", "gpt-4o")
    distinct = (
        df.selectExpr("CAST(LANG_NO AS STRING) AS LANG_NO", "trim(SUMMARY) AS SUMMARY")
        .filter("SUMMARY != ''")
        .distinct()
    )

    def _rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            parts = []
            for lang, sub in pdf.groupby("LANG_NO", sort=False):
                rewriter = SummaryRewriter(lang_no=str(lang), model=model)
                mapping = rewriter.rewrite_batch(sub["SUMMARY"].tolist())
                parts.append(
                    pd.DataFrame(
                        {
                            "LANG_NO": str(lang),
                            "SUMMARY": list(mapping.keys()),
                            "SUMMARY_REWRITTEN": list(mapping.values()),
                        }
                    )
                )
            yield pd.concat(parts, ignore_index=True)

    out = distinct.mapInPandas(_rewrite, schema=_REWRITE_SCHEMA)
    # Tracked persist: release via operators.cache (cache_scope around the
    # pipeline run, or release_all in long-lived sessions).
    return persist_tracked(out)
