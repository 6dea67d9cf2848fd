"""Run the READ-ONLY reference implementation to produce golden outputs.

The reference (/root/reference) imports pymongo / openai / fastapi and
dated ``*_251029`` module names that don't exist in this image. In
fallback + mock-LLM mode none of those are exercised, so this harness
injects stub modules and import aliases, then drives the reference's
real ``db_to_dataframe`` → ``postprocess_multilang`` →
``text_processing`` code path. Its output is the byte-level golden for
the engine's renderer parity tests.

The reference files are loaded from disk read-only; nothing under
/root/reference is modified.
"""

from __future__ import annotations

import importlib
import os
import sys
import types
from typing import Any

import pandas as pd

_REFERENCE_PATH = "/root/reference"
_loaded = False


def _stub_module(name: str, **attrs: Any) -> None:
    if name in sys.modules:
        return
    mod = types.ModuleType(name)
    for k, v in attrs.items():
        setattr(mod, k, v)
    sys.modules[name] = mod


def _load_reference():
    global _loaded
    if _loaded:
        return
    if not os.path.isdir(_REFERENCE_PATH):
        raise FileNotFoundError(
            f"the reference implementation tree {_REFERENCE_PATH} is missing: "
            "the golden byte-parity tests run the reference code itself"
        )
    # Stubs for deps that fallback/mock mode never touches.
    _stub_module("pymongo", MongoClient=None)
    _stub_module("openai", OpenAI=None)

    class _HTTPException(Exception):
        def __init__(self, status_code=500, detail=""):
            super().__init__(detail)
            self.status_code = status_code

    class _APIRouter:
        def post(self, *_a, **_k):
            def deco(fn):
                return fn

            return deco

    _stub_module("fastapi", APIRouter=_APIRouter, HTTPException=_HTTPException)

    sys.path.insert(0, _REFERENCE_PATH)
    try:
        for real in ["utils", "db_to_dataframe", "data_preprocessing", "llm_processing"]:
            mod = importlib.import_module(real)
            # text_processing imports these under dated *_251029 names
            # (reference text_processing.py:7-9) — alias them.
            sys.modules[f"{real}_251029"] = mod
        importlib.import_module("text_processing")
    finally:
        sys.path.remove(_REFERENCE_PATH)
    _loaded = True


def _drop_input_summary_code(records: list[dict]) -> list[dict]:
    """The shipped reference KeyErrors on inputs whose FINDINGS carry
    SUMMARY_CODE: the diag-table merge duplicates the column
    (SUMMARY_CODE_x/_y) and the summary merge's ``on='SUMMARY_CODE'``
    fails (SURVEY.md §2a J3 — verified by running it). The engine's
    documented resolution is "diag table is authoritative; drop the
    input-side column at ingest" — apply the same normalization before
    handing records to the reference so its own pipeline can run."""
    out = []
    for r in records:
        r = dict(r)
        r["ITEMS"] = [
            {
                **it,
                "FINDINGS": [
                    {k: v for k, v in f.items() if k != "SUMMARY_CODE"}
                    for f in (it.get("FINDINGS") or [])
                ],
            }
            for it in (r.get("ITEMS") or [])
        ]
        out.append(r)
    return out


def run_reference(records: list[dict]) -> pd.DataFrame:
    """records → reference (record_id, report, request) pandas frame."""
    _load_reference()
    db_to_dataframe = sys.modules["db_to_dataframe"].db_to_dataframe
    postprocess_multilang = sys.modules["data_preprocessing"].postprocess_multilang
    text_processing = sys.modules["text_processing"].text_processing

    final_df = db_to_dataframe(_drop_input_summary_code(records))
    cleaned = postprocess_multilang(final_df)
    return text_processing(cleaned, None, records)


def run_reference_from_fact(fact: pd.DataFrame, records: list[dict]) -> pd.DataFrame:
    """Drive the reference's E3 entry (clean + render) from an arbitrary
    22-column fact frame — lets tests exercise non-fallback dim content
    (real summary texts, GROUPNO=0, …) without MongoDB."""
    _load_reference()
    postprocess_multilang = sys.modules["data_preprocessing"].postprocess_multilang
    text_processing = sys.modules["text_processing"].text_processing
    cleaned = postprocess_multilang(fact.copy())
    return text_processing(cleaned, None, records)
