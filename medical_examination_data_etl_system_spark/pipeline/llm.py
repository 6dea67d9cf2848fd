"""Summary-rewrite stage (the reference's only "UDF").

Parity with reference llm_processing.py:18-216 (``SuggestionTranslator``
+ ``process_suggestion``), re-expressed for Spark:

- the reference memoizes per distinct summary text and calls the LLM with
  a 3-thread pool, 3 retries, exponential backoff, a rate-limit
  ``try again in Ns`` parser, identity fallback on failure, a skip-list
  for the per-language default texts, and a deterministic MOCK mode
  (``"[LLM_OUTPUT]" + text``) when no credentials are configured.
- the engine computes ``distinct (LANG_NO, SUMMARY)`` ONCE across the
  whole batch (the reference re-calls per record), collects it and
  rewrites it on the driver, one rewriter per language, mock and live
  alike: no Python worker, no persist, no per-executor pool. The result
  is a constant relation, so a plan that runs twice (CSV checkpoint,
  then collect) never calls the LLM twice. The driver holds the set,
  which is bounded by content cardinality, not by corpus size.

The mock path needs no network and is the determinism hook for tests —
preserved verbatim in behavior.
"""

from __future__ import annotations

import os
import re
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame

from medical_examination_data_etl_system_spark.schemas import LANGU_MAP, sql_literal

# Texts never sent to the LLM (identity rewrite) — reference
# llm_processing.py:10,135-137.
LANGU_DEFAULT_TEXT = list(LANGU_MAP.values())

# The reference's pool size, retry count and backoff base
# (llm_processing.py:80-116,195-205).
_MAX_WORKERS = 3
_MAX_RETRIES = 3
_BASE_DELAY = 1.0

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

    def __init__(self, lang_no: str, model: str = "gpt-4o"):
        self.lang_no = str(lang_no)
        self.model = model
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
        for attempt in range(_MAX_RETRIES):
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
        return _BASE_DELAY * (2**attempt)

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
            with ThreadPoolExecutor(max_workers=_MAX_WORKERS) as pool:
                for t, out in zip(to_send, pool.map(self.rewrite_one, to_send)):
                    results[t] = out
        return results


# The rewrite table as a constant (it collects with no job): a VALUES
# literal whose typed null row, filtered out, keeps it non-empty.
_REWRITES_SQL = (
    "SELECT * FROM VALUES {}(CAST(NULL AS STRING), CAST(NULL AS STRING), CAST(NULL AS STRING))"
    " AS t(LANG_NO, SUMMARY, SUMMARY_REWRITTEN) WHERE LANG_NO IS NOT NULL"
)


def rewrite_distinct_summaries(df: DataFrame) -> DataFrame:
    """distinct (LANG_NO, SUMMARY) → (…, SUMMARY_REWRITTEN), a constant.

    ``df`` must carry LANG_NO and a generic SUMMARY column. Keys are
    stripped before rewriting (reference text_processing.py:75). The
    distinct set is collected (one job) and rewritten here, on the
    driver, once per language; the result is a constant relation, so
    however often the caller's plan runs, the LLM is not called again.
    Rows with a null LANG_NO are not rewritten.
    """
    model = os.getenv("AZURE_OPENAI_DEPLOYMENT", "gpt-4o")
    distinct = (
        df.selectExpr("CAST(LANG_NO AS STRING) AS LANG_NO", "trim(SUMMARY) AS SUMMARY")
        .filter("LANG_NO IS NOT NULL AND SUMMARY != ''")
        .distinct()
        .collect()
    )
    by_lang: dict[str, list[str]] = {}
    for lang, summary in distinct:
        by_lang.setdefault(lang, []).append(summary)
    values = "".join(
        f"({sql_literal(lang)}, {sql_literal(text)}, {sql_literal(out)}), "
        for lang, texts in by_lang.items()
        for text, out in SummaryRewriter(lang, model).rewrite_batch(texts).items()
    )
    return df.sparkSession.sql(_REWRITES_SQL.format(values))
