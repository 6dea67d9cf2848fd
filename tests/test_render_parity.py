"""Renderer byte parity without the reference tree: ``render_reports_sql``
must equal the plain-Python port of the reference renderer
(``tests/render_oracle.py``) byte for byte on generated cleaned frames.

The generated frames cover duplicate RECORD_IDs (two records of a batch
sharing an id render as one report), per-language default summaries,
summaries without a rewrite, repeated items and groups, blank and
whitespace-padded comments, and all four languages.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from medical_examination_data_etl_system_spark.pipeline.render import render_reports_sql
from medical_examination_data_etl_system_spark.schemas import LANGU_MAP

from .render_oracle import render_record

_PREFIX = {"1": "TCNAME", "2": "ENNAME", "3": "JPNAME", "4": "SCNAME"}
# Generic column -> the per-language source column (TC comments live in COMMENT).
_SOURCES = {
    "GROUP": {lang: f"{p}_GROUP" for lang, p in _PREFIX.items()},
    "ITEM_NAME": {lang: f"{p}_ITEM" for lang, p in _PREFIX.items()},
    "COMMENT_G": {lang: "COMMENT" if lang == "1" else f"{p}_COMMENT" for lang, p in _PREFIX.items()},
    "SUMMARY": {lang: f"{p}_SUMMARY" for lang, p in _PREFIX.items()},
}
_DEFAULT = "<default>"  # stands for the row language's default summary
_UNREWRITTEN = "Retest"  # no rewrite-table entry: falls back to the summary

_ROW = st.fixed_dictionaries(
    {
        "GROUP": st.sampled_from(["Lab", "Vitals", " Lab"]),
        "ITEM_CODE": st.sampled_from(["I1", "I2", " I1", "I3"]),
        "ITEM_NAME": st.sampled_from(["Glucose", "BP", "Glucose "]),
        "COMMENT_G": st.sampled_from(["high", "low", "", " high", "高（值）"]),
        "SUMMARY": st.sampled_from(["Follow up", "Follow up ", _UNREWRITTEN, " ", _DEFAULT]),
    }
)
_RECORD = st.fixed_dictionaries(
    {
        "rid": st.sampled_from(["R1", "R2", "R3", "R4"]),
        "lang": st.sampled_from(sorted(_PREFIX)),
        "rows": st.lists(_ROW, min_size=1, max_size=6),
    }
)
_BATCH = st.lists(_RECORD, min_size=1, max_size=5)

_CLEANED_SCHEMA = T.StructType(
    [
        T.StructField("RECORD_ID", T.StringType()),
        T.StructField("LANG_NO", T.StringType()),
        T.StructField("ord", T.LongType()),
        T.StructField("rec_ord", T.LongType()),
        T.StructField("request", T.StringType()),
        T.StructField("ITEM_CODE", T.StringType()),
        *[T.StructField(c, T.StringType()) for src in _SOURCES.values() for c in src.values()],
    ]
)
_REWRITE_SCHEMA = "LANG_NO string, SUMMARY string, SUMMARY_REWRITTEN string"


def _generic_rows(batch: list[dict]) -> dict[str, tuple[str, list[dict]]]:
    """RECORD_ID -> (LANG_NO, its rows in encounter order). Records that
    share an id are one report in the language of the first of them."""
    out: dict[str, tuple[str, list[dict]]] = {}
    for rec in batch:
        lang, rows = out.setdefault(rec["rid"], (rec["lang"], []))
        for r in rec["rows"]:
            summary = LANGU_MAP[lang] if r["SUMMARY"] == _DEFAULT else r["SUMMARY"]
            rows.append({**r, "SUMMARY": summary})
    return out


def _cleaned_row(rid: str, lang: str, ord_: int, rec_ord: int, r: dict) -> dict:
    """One cleaned-fact row: the generic values in the row language's
    columns, a marker in every other language's."""
    row = {
        "RECORD_ID": rid,
        "LANG_NO": lang,
        "ord": ord_,
        "rec_ord": rec_ord,
        "request": f"request of {rid}",
        "ITEM_CODE": r["ITEM_CODE"],
    }
    for generic, src in _SOURCES.items():
        for other, col in src.items():
            row[col] = r[generic] if other == lang else f"not language {other}"
    return row


def _rewritten(lang: str, summary: str) -> str:
    key = summary.strip()
    if key in ("", _UNREWRITTEN) or key in LANGU_MAP.values():
        return key
    return f"[LLM_OUTPUT]{key}"


@given(batch=_BATCH)
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_sql_renderer_matches_python_oracle(spark, batch):
    records = _generic_rows(batch)
    cleaned, ord_ = [], 0
    for rid, (lang, rows) in records.items():
        rec_ord = ord_
        for r in rows:
            cleaned.append(_cleaned_row(rid, lang, ord_, rec_ord, r))
            ord_ += 1
    rewrites = sorted(
        {
            (lang, r["SUMMARY"].strip(), _rewritten(lang, r["SUMMARY"]))
            for lang, rows in records.values()
            for r in rows
            if _rewritten(lang, r["SUMMARY"]) != r["SUMMARY"].strip()
        }
    )

    got = render_reports_sql(
        spark.createDataFrame(cleaned, _CLEANED_SCHEMA),
        spark.createDataFrame(rewrites, _REWRITE_SCHEMA),
    ).collect()

    want = {
        rid: render_record(
            lang, [{**r, "REWRITTEN": _rewritten(lang, r["SUMMARY"])} for r in rows]
        )
        for rid, (lang, rows) in records.items()
    }
    assert sorted(r["record_id"] for r in got) == sorted(want)
    for r in got:
        assert r["request"] == f"request of {r['record_id']}"
        assert r["report"] == want[r["record_id"]], (
            f"--- engine ---\n{r['report']}\n--- oracle ---\n{want[r['record_id']]}"
        )
